package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.{JobLedger, SessionMemo}

/** Contracts for `core.SessionMemo`, the one plan-keyed memo. */
class SessionMemoSpec extends SparkSpec {
  import spark.implicits._

  private def rebuilt[T]: T = fail("a hit ran its build")

  test("a frame hit after clearCache() comes back persisted") {
    SessionMemo.clear(spark)
    val in = (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "g")
    val first = SessionMemo.frame(spark, "spec", in)(in.groupBy("g").count())
    assert(first.storageLevel == StorageLevel.MEMORY_ONLY)
    first.count()
    spark.catalog.clearCache()
    assert(first.storageLevel == StorageLevel.NONE)
    // a structurally equal plan built afresh is the same key
    val again = SessionMemo.frame(spark, "spec",
      (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "g"))(rebuilt)
    assert(again eq first)
    assert(again.storageLevel == StorageLevel.MEMORY_ONLY)
    SessionMemo.clear(spark)
  }

  test("clear unpersists the session's frames and the next call rebuilds") {
    SessionMemo.clear(spark)
    val f = SessionMemo.frame(spark, "spec", 1)(spark.range(5).toDF("x"))
    assert(SessionMemo(spark, "spec", 2)("value") == "value")
    assert(SessionMemo.size(spark) == 2)
    f.count()
    SessionMemo.clear(spark)
    assert(f.storageLevel == StorageLevel.NONE)
    assert(SessionMemo.size(spark) == 0)
    var builds = 0
    val g = SessionMemo.frame(spark, "spec", 1) { builds += 1; spark.range(5).toDF("x") }
    assert(builds == 1 && !(g eq f))
    assert(g.storageLevel == StorageLevel.MEMORY_ONLY)
    SessionMemo.clear(spark)
  }

  test("a new session has its own entries, and clearing it spares the parent") {
    SessionMemo.clear(spark)
    val child = spark.newSession()
    assert(SessionMemo(spark, "spec")("parent") == "parent")
    assert(SessionMemo(child, "spec")("child") == "child")
    assert(SessionMemo.size(child) == 1)
    SessionMemo.clear(child)
    assert(SessionMemo.size(child) == 0)
    assert(SessionMemo(spark, "spec")(rebuilt[String]) == "parent")
    SessionMemo.clear(spark)
  }

  test("globalRank pays the slice-boundary jobs once, then hits the memo") {
    val df = (1 to 200).map(i => (i.toLong * 7 % 101, i.toLong)).toDF("v", "id")
    def rank() = analytics.StatQueries.globalRank(df, Seq(col("v"), col("id")))
    val ledger = new JobLedger(spark)
    try {
      SessionMemo.clear(spark)
      // building the frame runs no job but the boundary collects
      val (cold, coldJobs) = ledger.jobs(rank())
      val (warm, warmJobs) = ledger.jobs(rank())
      assert(coldJobs >= 2, s"boundary stats + histogram: $coldJobs jobs")
      assert(warmJobs == 0, s"a memo hit started $warmJobs jobs")
      assert(warm.orderBy("rn").collect().toSeq == cold.orderBy("rn").collect().toSeq)
    } finally {
      ledger.close()
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
    }
  }

  test("no file under src/main but SessionMemo keeps a plan- or session-keyed memo") {
    val sessionMap = "ConcurrentHashMap\\[\\s*\\(?\\s*(?:[\\w.]+\\.)?SparkSession\\b".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter { p =>
          val src = Files.readString(p)
          src.contains("PlanKey") || sessionMap.findFirstIn(src).nonEmpty
        }.toSeq
      finally walk.close()
    assert(hits.map(_.toString) ==
      Seq(Paths.get("src/main/scala/graft/core/SessionMemo.scala").toString))
  }
}

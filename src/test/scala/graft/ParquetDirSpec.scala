package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.core.{JobLedger, ParquetDir}

class ParquetDirSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).resolve("t").toString

  /** The only data file of a one-partition write to a fresh directory. */
  private def onePart(df: DataFrame): Path = {
    val out = tmp("graft_pdir_part")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    Files.list(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
  }

  /** Builds the helper's frame, checks it started no job and matches an
    * unhinted read cell for cell, and returns it. */
  private def sameAsSpark(dir: String): DataFrame = {
    val ledger = new JobLedger(spark)
    val (got, jobs) =
      try ledger.jobs(ParquetDir.committed(spark, dir)) finally ledger.close()
    assert(jobs == 0, "building the frame must start no Spark job")
    val want = spark.read.parquet(dir)
    val df = got.getOrElse(fail(s"$dir holds committed data"))
    assert(df.schema == want.schema)
    val cols = want.columns.map(col)
    assert(df.select(cols: _*).collect().map(_.toString).sorted.toSeq ==
      want.select(cols: _*).collect().map(_.toString).sorted.toSeq)
    df
  }

  test("a batch=-partitioned dir with string keys reads as spark.read.parquet, with no job") {
    val dir = tmp("graft_pdir_str")
    Seq(("a0", 1L, "x"), ("a0", 2L, "y"), ("b1", 3L, "z")).toDF("batch", "id", "v")
      .write.partitionBy("batch").parquet(dir)
    val df = sameAsSpark(dir)
    assert(df.columns.toSeq == Seq("id", "v", "batch"))
    assert(df.count() == 3)
  }

  test("numeric partition keys infer batch as int, as spark.read.parquet does") {
    val dir = tmp("graft_pdir_num")
    Seq((0, 1L), (0, 2L), (1, 3L)).toDF("batch", "id")
      .write.partitionBy("batch").parquet(dir)
    assert(sameAsSpark(dir).schema("batch").dataType == IntegerType)
  }

  test("a zero-row committed write is committed data with its schema and no rows") {
    val dir = tmp("graft_pdir_empty")
    Seq.empty[(Long, String)].toDF("id", "v").write.mode("overwrite").parquet(dir)
    assert(sameAsSpark(dir).isEmpty)
  }

  test("absent dirs and dirs holding only _temporary, _SUCCESS and .crc hold no data") {
    val root = Files.createTempDirectory("graft_pdir_none").toString
    assert(ParquetDir.schema(spark, s"$root/absent").isEmpty)
    assert(ParquetDir.committed(spark, s"$root/absent").isEmpty)
    val crashed = Paths.get(root, "crashed")
    val part = onePart(Seq((1L, "x")).toDF("id", "v"))
    val staged = crashed.resolve("_temporary/0")
    Files.createDirectories(staged)
    Files.copy(part, staged.resolve(part.getFileName))
    Files.createFile(crashed.resolve("_SUCCESS"))
    Files.createFile(crashed.resolve(s".${part.getFileName}.crc"))
    assert(ParquetDir.schema(spark, crashed.toString).isEmpty)
    assert(ParquetDir.committed(spark, crashed.toString).isEmpty)
  }

  test("a batch=x dir holding only _temporary beside committed partitions does not change the schema") {
    val dir = tmp("graft_pdir_side")
    Seq(("b", 1L), ("c", 2L)).toDF("batch", "id").write.partitionBy("batch").parquet(dir)
    // first in name order, and with another schema: only a walk that
    // looked inside _temporary would take it
    val part = onePart(Seq((9L, "other", 0.5)).toDF("id", "extra", "w"))
    val staged = Paths.get(dir, "batch=a", "_temporary", "0")
    Files.createDirectories(staged)
    Files.copy(part, staged.resolve(part.getFileName))
    val df = sameAsSpark(dir)
    assert(df.columns.toSeq == Seq("id", "batch"))
    assert(df.count() == 2)
  }

  test("no file under src/main matches Spark's inference error text or reads a footer itself") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)).toSeq
      finally walk.close()
    val errorText = sources.collect {
      case (p, src) if src.contains("UNABLE_TO_INFER_SCHEMA") ||
          src.contains("Unable to infer schema") => p.toString
    }
    val footerReads = sources.collect {
      case (p, src) if src.contains("readSchemaFromFooter") ||
          src.contains("ParquetFileReader") => p.toString
    }
    // (files matching the error text, files reading a footer)
    assert((errorText, footerReads) ==
      ((Seq.empty, Seq(Paths.get("src/main/scala/graft/core/ParquetDir.scala").toString))))
  }
}

package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.core.ParquetDir

/** Warehouse layer (SURVEY §2.1 S5-S8, §2.3 J2).
  *
  * The reference loads pandas frames into Postgres with chunked multi-row
  * INSERTs (reference: src/storage/data_warehouse.py:64-99, chunksize
  * 10000) and reads back with parameterized SQL (:101-121). Spark maps
  * both onto the JDBC source with per-partition parallel writes; the gold
  * layer itself is date-partitioned parquet (the 100 TB-native form —
  * Postgres is a serving edge, not the analytical store).
  */
object Sinks {

  final case class JdbcConfig(
      url: String,
      user: String,
      password: String,
      batchSize: Int = 10000,
      numPartitions: Int = 8,
      driver: String = "")

  private def props(cfg: JdbcConfig): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", cfg.user)
    p.setProperty("password", cfg.password)
    p.setProperty("batchsize", cfg.batchSize.toString)
    if (cfg.driver.nonEmpty) p.setProperty("driver", cfg.driver)
    p
  }

  /** S5: bulk load with replace/append semantics. `numPartitions` bounds
    * concurrent connections; `batchsize` mirrors the reference's chunked
    * INSERT.
    */
  def writeJdbc(df: DataFrame, table: String, cfg: JdbcConfig,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.coalesce(cfg.numPartitions)
      .write.mode(mode)
      .option("batchsize", cfg.batchSize)
      .jdbc(cfg.url, table, props(cfg))

  /** S6: SQL pushdown read — the query runs inside the warehouse. */
  def readJdbc(spark: SparkSession, query: String, cfg: JdbcConfig): DataFrame =
    spark.read.jdbc(cfg.url, s"($query) t", props(cfg))

  /** S3/S8: gold parquet partitioned by load date `dt=YYYYMMDD`. Partition
    * pruning + dynamic pruning replace the reference's filename-dated
    * files and B-tree indexes.
    */
  def writeGold(df: DataFrame, basePath: String, dt: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("dt", lit(dt))
      .write.mode(mode).partitionBy("dt")
      .option("compression", "snappy")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(basePath)

  /** S8: the newest gold partition, found from file-system metadata.
    *
    * Lists the top-level `dt=` directories of `basePath` and takes the
    * newest by string order (the order `max` on the string `dt` gives)
    * that holds committed data by [[graft.core.ParquetDir]]'s rule, so a
    * write in flight or an empty one is never the latest. The null
    * partition (what an empty `dt` writes) is skipped too, as `max` skips
    * null. The schema comes from one footer in that directory, so building
    * the frame runs no Spark job and opens no file outside the newest day;
    * `dt` is a string column, as `writeGold` wrote it.
    */
  def readLatestGold(spark: SparkSession, basePath: String): DataFrame = {
    val root = new Path(basePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val days = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("dt=") &&
        d.getPath.getName != s"dt=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}")
      .map(_.getPath).sortBy(_.getName)(Ordering[String].reverse)
    val (day, schema) = days.iterator
      .flatMap(d => ParquetDir.schema(spark, d.toString).map((d, _)))
      .nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"no dt= partition with a data file under $basePath"))
    spark.read.schema(schema)
      .option("basePath", basePath).parquet(day.toString)
      .withColumn("dt", col("dt").cast("string"))
  }

  /** ORC sink/scan (zlib, the ORC default) — the interchange format a
    * Hive-side consumer asks for; same dt-partition layout as the
    * parquet gold sink so `readLatestGold`'s pruning story carries over.
    * Spark bundles the ORC datasource, so the pair closes the
    * "columnar format the warehouse didn't pick" gap without any new
    * dependency.
    */
  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("compression", "zlib").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S7: CTAS backup of a registered table (reference
    * data_warehouse.py:191-218) and stats collection for the CBO
    * (the VACUUM/ANALYZE analog).
    */
  def backupTable(spark: SparkSession, table: String, backupName: String): Unit =
    spark.sql(s"CREATE TABLE $backupName AS SELECT * FROM $table")

  def analyzeTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
}

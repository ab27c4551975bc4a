package graft
import org.apache.spark.sql.functions._
import graft.analytics.ChurnAnalytics
import graft.core.{ChurnFixture, JobLedger, StageCache}
import graft.ingest.RestIngest
import graft.streaming.Streaming
import graft.warehouse.{Sinks, StarSchema}

class SinksSpec extends SparkSpec {
  test("gold partitioned write + latest-partition read") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_gold").toString
    val df = ChurnFixture.df(spark, 50)
    Sinks.writeGold(df, base, "20260810")
    Sinks.writeGold(df.limit(20), base, "20260811", org.apache.spark.sql.SaveMode.Append)
    // reference: read every partition, keep the newest dt
    val before = spark.read.parquet(base).withColumn("dt", col("dt").cast("string"))
      .filter(col("dt") === "20260811")
    val uid = before.select("user_id").head().getString(0)
    val ledger = new JobLedger(spark)
    try {
      val (latest, built) = ledger.jobs(Sinks.readLatestGold(spark, base))
      assert(built == 0, "resolving the newest partition must start no Spark job")
      assert(latest.schema == before.schema)
      assert(latest.schema("dt").dataType == org.apache.spark.sql.types.StringType)
      val (rows, scanned) = ledger.jobs(ChurnAnalytics.lookupUser(latest, uid).collect())
      assert(scanned == 1, "one lookup must be one Spark job (the scan)")
      assert(rows.length == 1 && rows(0).getAs[String]("dt") == "20260811")
      assert(latest.inputFiles.nonEmpty && latest.inputFiles.forall(_.contains("/dt=20260811/")))
      assert(latest.count() == 20)
      assert(latest.collect().toSet == before.collect().toSet)
    } finally ledger.close()

    // newer dirs without a visible data file are writes in flight or
    // leftovers, never the latest partition
    val part = Files.list(Paths.get(base, "dt=20260811"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    val temp = Files.createDirectories(Paths.get(base, "dt=20260812", "_temporary", "0"))
    Files.copy(part, temp.resolve(part.getFileName))
    val hidden = Files.createDirectories(Paths.get(base, "dt=20260813"))
    Files.createFile(hidden.resolve("_SUCCESS"))
    Files.copy(part, hidden.resolve("." + part.getFileName))
    Files.copy(part, hidden.resolve("_" + part.getFileName))
    // an empty write creates no partition directory
    Sinks.writeGold(df.limit(0), base, "20260814", org.apache.spark.sql.SaveMode.Append)
    assert(!Files.exists(Paths.get(base, "dt=20260814")))
    // an empty dt lands in the null partition, which max(dt) never picked
    Sinks.writeGold(df.limit(5), base, "", org.apache.spark.sql.SaveMode.Append)
    assert(Files.exists(Paths.get(base, "dt=__HIVE_DEFAULT_PARTITION__")))
    val latest = Sinks.readLatestGold(spark, base)
    assert(latest.select("dt").distinct().collect().map(_.getString(0)).toSeq == Seq("20260811"))
    assert(latest.count() == 20)

    // a base with no data-bearing dt= dir fails and names the path
    val bare = Files.createTempDirectory("graft_gold_bare").toString
    Files.createFile(Files.createDirectories(Paths.get(bare, "dt=20260901")).resolve("_SUCCESS"))
    val err = intercept[IllegalArgumentException](Sinks.readLatestGold(spark, bare))
    assert(err.getMessage.contains(bare))
  }

  test("star schema: fact joins dims; broadcast plan on the dim side") {
    val star = StarSchema.build(spark, "/root/testdata/sf0.001")
    val fact = star("fact_orders"); val dim = star("dim_customer")
    val joined = fact.join(broadcast(dim), "customer_key")
      .groupBy("region").agg(count(lit(1)).as("n"))
    assert(joined.count() == 5)
    assert(fact.columns.toSet ==
      Set("order_key", "customer_key", "date_key", "status", "priority", "total_price"))
  }

  test("jdbc round-trip on embedded Derby: overwrite, append, pushdown read") {
    // Derby ships in /opt/spark/jars; in-memory DB = no files, no server.
    // This exercises the same code path the reference drives against
    // Postgres (data_warehouse.py:64-121): bulk load, append, SQL read.
    val cfg = Sinks.JdbcConfig(
      url = "jdbc:derby:memory:graftwh;create=true",
      user = "", password = "", batchSize = 100, numPartitions = 2,
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    import spark.implicits._
    val df = (1 to 57).map(i => (i.toLong, s"name_$i", i * 1.5)).toDF("id", "name", "score")
    Sinks.writeJdbc(df, "users_gold", cfg)
    // Spark's JDBC writer creates quoted (case-exact) columns; Derby
    // uppercases unquoted identifiers, so reads quote them
    val back = Sinks.readJdbc(spark,
      """SELECT "id", "name", "score" FROM users_gold""", cfg)
    assert(back.count() == 57)
    val row = back.filter(col("id") === 7L).collect()(0)
    assert(row.getString(1) == "name_7" && row.getDouble(2) == 10.5)
    // append mode doubles the rows (reference replace/append switch)
    Sinks.writeJdbc(df, "users_gold", cfg, org.apache.spark.sql.SaveMode.Append)
    assert(Sinks.readJdbc(spark, """SELECT COUNT(*) AS "n" FROM users_gold""", cfg)
      .collect()(0).getAs[Number](0).longValue == 114L)
    // pushdown read: the filter runs inside the warehouse
    val filtered = Sinks.readJdbc(spark,
      """SELECT "id" FROM users_gold WHERE "score" > 80""", cfg)
    assert(filtered.count() == 8) // ids 54..57, written twice
  }

  test("backup table (CTAS) snapshots current contents") {
    val df = ChurnFixture.df(spark, 25)
    df.createOrReplaceTempView("users_live")
    spark.sql("DROP TABLE IF EXISTS users_backup_t")
    Sinks.backupTable(spark, "users_live", "users_backup_t")
    assert(spark.table("users_backup_t").count() == 25)
    spark.sql("DROP TABLE users_backup_t")
  }

  test("stage cache: miss computes, hit reuses, invalidate clears") {
    val base = java.nio.file.Files.createTempDirectory("graft_cache").toString
    val key = StageCache.key("features", "sig123", "v1")
    var computes = 0
    def compute = { computes += 1; ChurnFixture.df(spark, 30) }
    val a = StageCache.cached(spark, base, key)(compute)
    val b = StageCache.cached(spark, base, key)(compute)
    assert(computes == 1 && a.count() == 30 && b.count() == 30)
    assert(StageCache.invalidate(spark, base, key))
    StageCache.cached(spark, base, key)(compute)
    assert(computes == 2)
  }

  test("ORC sink/scan round-trips values, schema, and pushes filters down") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/t"
    val df = graft.core.Tables.customer(spark, "/root/testdata/sf0.001")
      .select("c_custkey", "c_name", "c_acctbal")
    graft.warehouse.Sinks.writeOrc(df, dir)
    val back = graft.warehouse.Sinks.readOrc(spark, dir)
    assert(back.schema == df.schema)
    assert(back.orderBy("c_custkey").collect().toSeq ==
      df.orderBy("c_custkey").collect().toSeq)
    // predicate pushdown reaches the ORC scan (same contract as parquet)
    val plan = back.filter(col("c_custkey") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("c_custkey"),
      s"expected pushed filter in ORC scan:\n$plan")
  }
}

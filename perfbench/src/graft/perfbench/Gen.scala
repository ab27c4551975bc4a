package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), drawn through `xxhash64`, so the same seed gives byte-identical
  * tables whatever the partitioning. The program under test only ever
  * sees the files these write.
  */
object Gen {

  /** One churn-shaped CSV snapshot of `users` users (header, 4 files). */
  def churnCsv(spark: SparkSession, users: Int, seed: Long, dir: String): Unit =
    graft.core.ChurnFixture.df(spark, users, seed)
      .write.mode("overwrite").option("header", "true").csv(dir)

  /** Uniform long in [0, m) for row `id`, stream `salt`. */
  private def h(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))

  private def pick(xs: Seq[String], idx: Column): Column =
    element_at(array(xs.map(lit): _*), idx.cast("int") + 1)

  /** `n` documents in the registry's `documents` shape. Each is 30–100
    * words drawn from a 5,000-word vocabulary, so two unrelated documents
    * rarely share many words; one in 20 copies an earlier document with
    * about one word in ten replaced (a near duplicate), and one in 500
    * repeats an earlier document exactly. The share of duplicates is fixed
    * by construction, so the dedup work per wave barely depends on the
    * seed. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val kind = h(seed, 1, 1000)
    val base = spark.range(0, n, 1, 4)
      .withColumn("src", when(col("id") > 0 && kind < 52, pmod(h(seed, 2, 1L << 40), col("id")))
        .otherwise(col("id")))
      .withColumn("edit", col("src") =!= col("id") && kind >= 2)
    // words come from `src`, so copies share them; a near duplicate then
    // redraws roughly every tenth word from its own id
    val nWords = (pmod(xxhash64(col("src"), lit(seed), lit(-1)), lit(71L)) + 30).cast("int")
    def word(key: Column, i: Column) =
      concat(lit("w"), pmod(xxhash64(key, lit(seed), i), lit(5000L)).cast("string"))
    base
      .withColumn("text", array_join(transform(sequence(lit(1), nWords), i =>
        when(col("edit") && pmod(xxhash64(col("id"), lit(seed), i, lit(-2)), lit(10L)) === 0,
          word(col("id"), i)).otherwise(word(col("src"), i))), " "))
      .select(col("id").as("doc_id"), col("text"),
        pick(Seq("en", "en", "en", "es", "zh", "de", "fr"), h(seed, 4, 7)).as("lang"),
        concat(lit("src"), h(seed, 5, 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }
}

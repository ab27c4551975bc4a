package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Contracts for `core.GraftSession`, the one session factory. */
class SessionSpec extends SparkSpec {

  test("the factory's session carries the whole session policy") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.maxPlanStringLength") ==
      core.HostAnchor.maxPlanStringLength)
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.executor.heartbeatInterval") == "60s")
    assert(conf.get("spark.network.timeout") == "600s")
    // the extension alone puts both kernels in SQL scope: no
    // registration call anywhere in this spec
    val r = spark.sql(
      "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS n, " +
        "dot_f32(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d").collect()(0)
    assert(r.getInt(0) == 2)
    assert(math.abs(r.getDouble(1) - 11.0) < 1e-9)
  }

  test("every main builds its session through the factory alone") {
    // spelled in two parts so this file is not itself a match
    val call = "SparkSession" + ".builder"
    val walk = Files.walk(Paths.get("src/main/scala"))
    val hits =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(call)).toSeq
      finally walk.close()
    assert(hits.map(_.toString) ==
      Seq(Paths.get("src/main/scala/graft/core/GraftSession.scala").toString))
  }
}

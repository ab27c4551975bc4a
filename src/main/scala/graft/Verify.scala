package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to these query names (local
    // iteration aid; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // a filtered run dumps a subset: drop the other queries' stale dirs
    // AND leave a PARTIAL marker (check.py banners it and refuses to read
    // the dump as a full gate) — a full run removes the marker
    def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p) // close the stream: it holds a dir handle
      try walk.iterator().asScala.toSeq.reverse
        .foreach(q => Files.deleteIfExists(q))
      finally walk.close()
    }
    val partialMarker = Paths.get(outDir, "PARTIAL")
    if (only.nonEmpty) {
      SparkEntry.queries.keys.filterNot(only).foreach(n => rmTree(Paths.get(outDir, n)))
      Files.writeString(partialMarker, only.toSeq.sorted.mkString("\n") + "\n")
    }
    // NOTE: a full run clears the marker only AFTER its oracle_sql.json
    // write succeeds (end of main) — clearing it here would un-flag a
    // stale partial dump if this full run dies mid-loop
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // drop any PREVIOUS run's output first: a query that throws must
      // leave a missing directory (loud "no spark output" in the
      // checker), not a stale result that silently compares against the
      // old definition
      rmTree(Paths.get(outDir, name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // drop operator-persisted intermediates
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (only.isEmpty) Files.deleteIfExists(partialMarker)
    spark.stop()
  }
}

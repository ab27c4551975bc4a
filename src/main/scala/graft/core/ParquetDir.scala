package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Committed parquet at rest: whether a directory holds data, and its
  * schema, answered from file-system metadata and one footer, with no
  * Spark job.
  *
  * A path component below the directory is not data when its name starts
  * with `.`, or with `_` and holds no `=` (`_SUCCESS`, `_temporary/`,
  * `.crc`): Spark's own listing rule. So a write in flight, or one that
  * crashed and left only `_temporary` behind, holds no committed data.
  */
object ParquetDir {

  /** The schema in the footer of the first data file under `dir`, in name
    * order, read on the driver under the session's SQLConf: the Spark row
    * metadata when present, else the parquet types converted. None when
    * `dir` is absent or holds no data file. Spark's non-merging inference
    * also reads one footer, but in a job. */
  def schema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def firstFile(d: Path): Option[Path] = {
      val (files, dirs) = fs.listStatus(d).filterNot(s => hidden(s.getPath.getName))
        .sortBy(_.getPath.getName).partition(_.isFile)
      files.headOption.map(_.getPath)
        .orElse(dirs.iterator.flatMap(s => firstFile(s.getPath)).nextOption())
    }
    Option.when(fs.exists(root))(root).flatMap(firstFile).map { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** `dir` read under its [[schema]]: the columns and rows of an unhinted
    * `spark.read.parquet(dir)`, partition columns inferred from the `k=v`
    * names as it does, but built with no job. None where [[schema]] is. */
  def committed(spark: SparkSession, dir: String): Option[DataFrame] =
    schema(spark, dir).map(spark.read.schema(_).parquet(dir))

  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
}

package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import scala.collection.immutable.ListMap
import graft.core.ChurnSchema
import graft.validate.SchemaValidator

/** Bronze ingestion (SURVEY §2.1 S1/S3 + §1.3 metadata columns).
  *
  * Reference behavior (src/ingestion/csv_ingestion.py:34-145): read CSV →
  * validate (fail hard) → append lineage columns → snappy parquet. The
  * lineage columns are part of the data model: `_ingestion_timestamp`,
  * `_source_file`, `_row_number`.
  *
  * `_row_number` parity note (SURVEY §1.3): pandas assigns a global 0-based
  * sequence. A global `row_number()` window is a single-partition sort —
  * fine at Bronze-file granularity, unacceptable at 100 TB. `globalSeq =
  * false` (default) uses the scalable per-file ordering
  * (`input_file_name` + partition-local ids remain stable for lineage);
  * `globalSeq = true` gives exact pandas parity for parity tests.
  */
object CsvIngest {

  def readCsv(
      spark: SparkSession,
      path: String,
      schema: StructType = ChurnSchema.schema,
      delimiter: String = ",",
      encoding: String = "UTF-8",
      inferSchema: Boolean = false): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("encoding", encoding)
    if (inferSchema) base.option("inferSchema", "true").csv(path)
    else base.schema(schema).csv(path)
  }

  /** The three lineage columns in one projection. With `globalSeq` the
    * analyzer still evaluates `input_file_name()` below the window's
    * exchange, where the scanned file is known.
    */
  def withLineage(df: DataFrame, globalSeq: Boolean = false): DataFrame =
    df.withColumns(ListMap(
      "_ingestion_timestamp" -> current_timestamp(),
      "_source_file" -> input_file_name(),
      "_row_number" ->
        (if (globalSeq) row_number().over(Window.orderBy(monotonically_increasing_id())) - 1
        else monotonically_increasing_id())))

  /** Full ingest: read → hard validation gate → lineage → Bronze parquet.
    * Returns the validated frame (also written if `bronzePath` given).
    */
  def ingest(
      spark: SparkSession,
      csvPath: String,
      bronzePath: Option[String] = None,
      globalSeq: Boolean = false): DataFrame =
    ingestValidated(spark, csvPath, bronzePath, globalSeq)._1

  /** [[ingest]] that also returns the gate's report. The gate throws on
    * any invalid row, so the report is the whole validation of the day's
    * input: a caller needs no second validation pass over Bronze.
    */
  def ingestValidated(
      spark: SparkSession,
      csvPath: String,
      bronzePath: Option[String] = None,
      globalSeq: Boolean = false): (DataFrame, SchemaValidator.ValidationReport) = {
    val raw = readCsv(spark, csvPath)
    val report = SchemaValidator.validateOrThrow(raw)
    val bronze = withLineage(raw, globalSeq)
    bronzePath.foreach { p =>
      bronze.write.mode("overwrite").option("compression", "snappy").parquet(p)
    }
    (bronze, report)
  }
}

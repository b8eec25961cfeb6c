package org.apache.spark.sql.graftbridge

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport,
  ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet on the driver, with no Spark job: Spark's own row write and
  * read support, driven by parquet-hadoop's writer and reader and
  * configured from the session's `SQLConf` as Spark's parquet source
  * configures them. `spark.read.parquet` reads what [[write]] writes,
  * and [[read]] reads what Spark's writer writes.
  */
object DriverParquet {

  /** A writer to a local file through java.nio: Hadoop's local file
    * system would fork a `chmod` for the file and for its checksum.
    */
  private final class RowWriter(file: Path)
      extends ParquetWriter.Builder[InternalRow, RowWriter](new LocalOutputFile(file)) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** A reader over `file` and its Hadoop conf: `ParquetReader.builder`
    * would start from a fresh Hadoop `Configuration`, which parses the
    * default resources again on every read.
    */
  private final class RowReader(file: HadoopInputFile, support: ParquetReadSupport)
      extends ParquetReader.Builder[InternalRow](file) {
    override protected def getReadSupport(): ReadSupport[InternalRow] = support
  }

  private def state(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState

  private def options(sql: SQLConf) = new ParquetOptions(Map.empty[String, String], sql)

  /** Write `rows` to `dir` as its one parquet file, with no `_SUCCESS`
    * marker and no checksum file. The schema is written nullable, as
    * Spark's writer writes it.
    */
  def write(spark: SparkSession, schema: StructType, rows: Seq[InternalRow], dir: Path): Unit = {
    val sql = state(spark).conf
    val hadoopConf = state(spark).newHadoopConf()
    ParquetWriteSupport.setSchema(schema.asNullable, hadoopConf)
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT -> sql.writeLegacyParquetFormat,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE -> sql.parquetOutputTimestampType,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED -> sql.parquetFieldIdWriteEnabled,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE ->
        sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE))
      .foreach { case (k, v) => hadoopConf.set(k.key, v.toString) }
    // the write support reads its rebase modes and time zone from SQLConf.get
    SQLConf.withExistingConf(sql) {
      Files.createDirectories(dir)
      val writer = new RowWriter(dir.resolve("part-00000.parquet"))
        .withConf(hadoopConf)
        .withCompressionCodec(CompressionCodecName.fromConf(options(sql).compressionCodecClassName))
        .withWriteMode(ParquetFileWriter.Mode.CREATE)
        .build()
      Using.resource(writer)(w => rows.foreach(w.write))
    }
  }

  /** The rows of the parquet files in `dir` as `schema`, each a copy,
    * `limit` at most: reading stops there. Each file's datetime and INT96
    * rebase follows its footer and the session's read modes, as in
    * Spark's parquet source.
    */
  def read(spark: SparkSession, schema: StructType, dir: Path, limit: Long): Vector[InternalRow] = {
    val sql = state(spark).conf
    val hadoopConf = state(spark).newHadoopConf()
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // the keys ParquetToSparkSchemaConverter reads without a default
    Seq(SQLConf.PARQUET_BINARY_AS_STRING -> sql.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sql.isParquetINT96AsTimestamp,
      SQLConf.CASE_SENSITIVE -> sql.caseSensitiveAnalysis,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sql.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sql.legacyParquetNanosAsLong)
      .foreach { case (k, v) => hadoopConf.setBoolean(k.key, v) }
    val listed = Files.list(dir)
    val files = try listed.iterator.asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toVector.sorted
      finally listed.close()
    val out = Vector.newBuilder[InternalRow]
    var n = 0L
    for (f <- files if n < limit) SQLConf.withExistingConf(sql) {
      val file = new HadoopPath(dir.resolve(f).toUri)
      val input = HadoopInputFile.fromPath(file, hadoopConf)
      val meta = Using.resource(ParquetFileReader.open(input,
        HadoopReadOptions.builder(hadoopConf, file).build()))(
        _.getFooter.getFileMetaData.getKeyValueMetaData)
      // no INT96 time-zone conversion: Spark converts only files that
      // parquet-mr did not write, and every snapshot file is parquet-mr's
      val support = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(meta.get, options(sql).datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(meta.get, options(sql).int96RebaseModeInRead))
      Using.resource(new RowReader(input, support).build()) { reader =>
        var row = reader.read()
        while (row != null) {
          out += row.copy()
          n += 1
          row = if (n < limit) reader.read() else null
        }
      }
    }
    out.result()
  }
}

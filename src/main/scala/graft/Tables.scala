package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Loaders for the driver's synthetic star schema
  * (`/root/repo/TESTDATA.md`): TPC-H-ish tables plus an `events`
  * micro-batch log, a `documents` corpus and an `embeddings` table.
  *
  * All reads are plain parquet scans so Catalyst predicate pushdown and
  * column pruning apply; callers should select/filter as early as
  * possible and let the optimizer push into the scan.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => parquet(spark, path(dir, n))
    }

  /** `spark.read.parquet(path)` without its schema-inference job.
    *
    * With `spark.sql.parquet.mergeSchema` off, Spark infers a parquet
    * table's data schema from ONE footer, but reads that footer inside
    * a Spark job (`mergeSchemasInParallel`): a whole job per read, the
    * main fixed cost of reading a small table. This reads the same
    * footer in the calling thread, picked the way Spark picks it
    * (`_common_metadata`, then `_metadata`, then the first data file
    * by path), converts it with a converter built from the session conf
    * (so `nanosAsLong` and the NTZ setting apply), and hands the result
    * to the reader. Partition columns are still inferred from the
    * directory names. With mergeSchema on, or with no file to read a
    * footer from, this is `spark.read.parquet(path)`.
    *
    * @param files when given, only these files under `path` are read
    *        (with `path` as the partition discovery base), under the
    *        schema the whole table reads with
    */
  def parquet(spark: SparkSession, path: String,
      files: Option[Seq[FileStatus]] = None): DataFrame = {
    val conf = spark.sessionState.conf
    val file =
      if (conf.isParquetSchemaMergingEnabled) None
      else footerSchemaFile(listedFiles(spark, path))
    val reader = file match {
      case Some(f) =>
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer(spark, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(conf))
        spark.read.schema(schema)
      case _ => spark.read
    }
    files match {
      case None => reader.parquet(path)
      case Some(fs) =>
        val base = new Path(path)
        val isDir = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(base).isDirectory
        (if (isDir) reader.option("basePath", path) else reader)
          .parquet(fs.map(_.getPath.toString): _*)
    }
  }

  private def footer(spark: SparkSession, f: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()), filter)

  private val summaryFiles = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The leaf files Spark's file index lists under `path`, sorted by
    * path: names starting with `_` or `.` are skipped, except the two
    * summary files and `col=value` partition directories. Empty when
    * `path` is missing.
    */
  private def listedFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listed(name: String) =
      name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
        name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE) ||
        !(name.startsWith(".") || name.endsWith("._COPYING_") ||
          (name.startsWith("_") && !name.contains("=")))
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filter(c => listed(c.getPath.getName)).flatMap(leaves)
    if (!fs.exists(root)) Nil
    else leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }

  /** The file whose footer Spark's schema inference reads among the
    * `listed` files (`ParquetUtils.inferSchema` with mergeSchema off).
    */
  private def footerSchemaFile(listed: Seq[FileStatus]): Option[FileStatus] = {
    def named(n: String) = listed.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(listed.find(f => !summaryFiles(f.getPath.getName)))
  }

  /** The data files a read of `path` scans, sorted by path. */
  private[graft] def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] =
    listedFiles(spark, path).filterNot(f => summaryFiles(f.getPath.getName))

  /** The min and max of the timestamp column `column` in `file`, in
    * epoch microseconds, from the footer's row-group statistics: no
    * data page is read. NANOS values are truncated as [[events]]
    * truncates them. None unless every row group carries both values
    * for an INT64 MICROS or NANOS timestamp column: INT96 (Spark's
    * default `spark.sql.parquet.outputTimestampType`) has no
    * statistics, and an all-null row group has no min or max.
    */
  private[graft] def tsRange(spark: SparkSession, file: FileStatus,
      column: String): Option[(Long, Long)] = {
    val meta = footer(spark, file, ParquetMetadataConverter.NO_FILTER)
    val schema = meta.getFileMetaData.getSchema
    val micros: Option[Long => Long] =
      if (!schema.containsField(column) ||
          !schema.getType(schema.getFieldIndex(column)).isPrimitive) None
      else {
        val t = schema.getType(schema.getFieldIndex(column)).asPrimitiveType
        (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
          case (PrimitiveTypeName.INT64, ts: TimestampLogicalTypeAnnotation) =>
            ts.getUnit match {
              case TimeUnit.MICROS => Some(v => v)
              case TimeUnit.NANOS => Some(v => v / 1000)
              case _ => None
            }
          case _ => None
        }
      }
    val groups = meta.getBlocks.asScala.toSeq.map(_.getColumns.asScala
      .find(_.getPath.toDotString == column).map(_.getStatistics)
      .filter(s => s != null && s.hasNonNullValue))
    for {
      toMicros <- micros
      if groups.nonEmpty && groups.forall(_.isDefined)
    } yield {
      val stats = groups.flatten
      (toMicros(stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min),
        toMicros(stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max))
    }
  }

  /** The `events` stream table. Its `ts` column is parquet
    * TIMESTAMP(NANOS); Spark reads it as a raw long (see
    * [[GraftSession]]) and we truncate to microsecond precision —
    * exactly what DuckDB 1.x does when reading the same file, so
    * oracle comparisons agree. `files` restricts the read as in
    * [[parquet]].
    */
  def events(spark: SparkSession, dir: String,
      files: Option[Seq[FileStatus]] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, path(dir, "events"), files)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw // already a timestamp (e.g. rewritten fixture)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}

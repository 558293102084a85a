package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
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
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val file =
      if (conf.isParquetSchemaMergingEnabled) None else footerSchemaFile(spark, path)
    file match {
      case Some(f) =>
        val hadoopConf = spark.sessionState.newHadoopConf()
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(conf))
        spark.read.schema(schema).parquet(path)
      case _ => spark.read.parquet(path)
    }
  }

  /** The file whose footer Spark's schema inference reads for `path`
    * (`ParquetUtils.inferSchema` with mergeSchema off), over the leaf
    * files Spark's file index lists: names starting with `_` or `.`
    * are skipped, except the two summary files and `col=value`
    * partition directories.
    */
  private def footerSchemaFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    def listed(name: String) =
      name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
        name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE) ||
        !(name.startsWith(".") || name.endsWith("._COPYING_") ||
          (name.startsWith("_") && !name.contains("=")))
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filter(c => listed(c.getPath.getName)).flatMap(leaves)
    if (!fs.exists(root)) None
    else {
      val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
    }
  }

  /** The `events` stream table. Its `ts` column is parquet
    * TIMESTAMP(NANOS); Spark reads it as a raw long (see
    * [[GraftSession]]) and we truncate to microsecond precision —
    * exactly what DuckDB 1.x does when reading the same file, so
    * oracle comparisons agree.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, path(dir, "events"))
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

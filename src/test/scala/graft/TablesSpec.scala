package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.graft.PlanDsl
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}

import graft.pipeline.Medallion

/** `Tables.parquet` reads the same schema `spark.read.parquet` infers,
  * without the Spark job Spark's inference pays.
  */
class TablesSpec extends SparkSpec {

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("every table reads with the inferred schema and no Spark job") {
    Tables.all.foreach { t =>
      val p = Tables.path(sf, t)
      val (schema, jobs, _) = jobsDuring(Tables.parquet(spark, p).schema)
      assert(schema === inferred(p), t)
      assert(jobs === 0, t)
    }
    // a TIMESTAMP(MICROS) column not adjusted to UTC: NTZ inference is
    // off in the session, so it is a plain timestamp
    assert(Tables.parquet(spark, Tables.path(sf, "events")).schema("ts")
      .dataType === TimestampType)
  }

  test("TIMESTAMP(NANOS) reads as a long under nanosAsLong") {
    val dir = PlanDsl.tempDir("graft-nanos").resolve("events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(dir.resolve("part-0.parquet").toString))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1704067200123456789L, 2L -> 1704153600000001000L).foreach {
      case (id, ns) => writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
    } finally writer.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val got = Tables.parquet(spark, dir.toString)
    assert(got.schema === inferred(dir.toString))
    assert(got.schema("ts").dataType === LongType)
    // and the events loader truncates it to the microsecond instant
    val ts = Tables.events(spark, dir.getParent.toString).orderBy("event_id")
      .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(ts === Seq(1704067200123456L, 1704153600000001L))
  }

  test("medallion layers read with the inferred schema, day as a date") {
    val root = PlanDsl.tempDir("graft-tables-layers").toString
    Medallion.run(spark, sf, root)
    for (layer <- Seq("stg_events", "int_latest", s"${Config().schema}_daily")) {
      val p = s"$root/$layer"
      assert(Tables.parquet(spark, p).schema === inferred(p), layer)
    }
    assert(Tables.parquet(spark, s"$root/stg_events").schema("day").dataType === DateType)
    assert(Tables.parquet(spark, s"$root/${Config().schema}_daily").schema("day")
      .dataType === DateType)
  }

  test("stg ts carries min/max footer statistics; the caller's writes stay INT96") {
    import org.apache.spark.sql.functions._
    val root = PlanDsl.tempDir("graft-tables-stats").toString
    Medallion.run(spark, sf, root)
    val stg = s"$root/stg_events"
    // each file's footer range is its rows' range
    val want = spark.read.parquet(stg)
      .groupBy(input_file_name().as("f"))
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().map(r => new Path(r.getString(0)).toUri.getPath ->
        Some((r.getLong(1), r.getLong(2)))).toMap
    val got = Tables.dataFiles(spark, stg)
      .map(f => f.getPath.toUri.getPath -> Tables.tsRange(spark, f, "ts")).toMap
    assert(got.size > 1 && got === want)
    // the medallion set TIMESTAMP_MICROS on its own clone only: a write
    // on the caller's session is INT96, which has no statistics
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") === "INT96")
    val int96 = PlanDsl.tempDir("graft-tables-int96").resolve("t").toString
    spark.read.parquet(stg).write.parquet(int96)
    assert(Tables.dataFiles(spark, int96).map(Tables.tsRange(spark, _, "ts"))
      .forall(_.isEmpty))
  }

  test("TIMESTAMP(NANOS) footer statistics truncate to micros as the events loader does") {
    val dir = PlanDsl.tempDir("graft-nanos-stats").resolve("events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new Path(dir.resolve("part-0.parquet").toString))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1704067200123456789L, 2L -> 1704153600000001999L).foreach {
      case (id, ns) => writer.write(rows.newGroup().append("event_id", id).append("ts", ns))
    } finally writer.close()
    val Seq(file) = Tables.dataFiles(spark, dir.toString)
    assert(Tables.tsRange(spark, file, "ts") === Some((1704067200123456L, 1704153600000001L)))
    // a column that is not a timestamp has no range
    assert(Tables.tsRange(spark, file, "event_id") === None)
  }

  test("footer choice follows Spark's, and mergeSchema falls back to Spark's merge") {
    import spark.implicits._
    val dir = PlanDsl.tempDir("graft-tables-merge").resolve("t").toString
    Seq((1L, "a")).toDF("id", "x").write.parquet(dir)
    Seq((2L, 0.5)).toDF("id", "y").write.mode("append").parquet(dir)
    // mergeSchema off: one footer, the first data file by path
    assert(Tables.parquet(spark, dir).schema === inferred(dir))
    val key = "spark.sql.parquet.mergeSchema"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val (schema, jobs, _) = jobsDuring(Tables.parquet(spark, dir).schema)
      assert(schema === inferred(dir))
      assert(schema.fieldNames.toSet === Set("id", "x", "y"))
      assert(jobs > 0, "merged schemas are read by Spark's own job")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

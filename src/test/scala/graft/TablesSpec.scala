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

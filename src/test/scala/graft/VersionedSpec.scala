package graft

import org.apache.spark.sql.graft.PlanDsl

import graft.operators.Versioned

/** Versioned table: time-travel reads, pointer fallback. */
class VersionedSpec extends SparkSpec {

  private def tmp(): String =
    PlanDsl.tempDir("graft-test-versioned").resolve("t").toString

  test("write assigns increasing versions; read pins or follows latest") {
    import spark.implicits._
    val dir = tmp()
    assert(Versioned.versions(spark, dir).isEmpty)
    assert(Versioned.write(spark, dir, Seq(1, 2).toDF("x")) === 1L)
    assert(Versioned.write(spark, dir, Seq(3).toDF("x")) === 2L)
    assert(Versioned.write(spark, dir, Seq(4, 5, 6).toDF("x")) === 3L)
    assert(Versioned.versions(spark, dir) === Seq(1L, 2L, 3L))
    assert(Versioned.read(spark, dir).count() === 3)          // latest
    assert(Versioned.read(spark, dir, Some(1L)).count() === 2) // time travel
    assert(Versioned.read(spark, dir, Some(2L)).count() === 1)
  }

  test("missing pointer falls back to newest complete snapshot") {
    import spark.implicits._
    val dir = tmp()
    Versioned.write(spark, dir, Seq(1).toDF("x"))
    Versioned.write(spark, dir, Seq(2, 3).toDF("x"))
    // simulate a crash that lost the pointer
    new java.io.File(dir, "_latest").delete()
    assert(Versioned.latestVersion(spark, dir) === Some(2L))
    assert(Versioned.read(spark, dir).count() === 2)
    // an incomplete snapshot (no _SUCCESS) is never served
    val v3 = new java.io.File(dir, "_versions/v=3")
    assert(v3.mkdirs())
    assert(Versioned.latestVersion(spark, dir) === Some(2L))
    intercept[java.util.NoSuchElementException] {
      Versioned.read(spark, dir, Some(3L))
    }
  }

  test("dangling pointer falls back to newest complete snapshot") {
    import spark.implicits._
    val dir = tmp()
    Versioned.write(spark, dir, Seq(1, 2).toDF("x"))
    Versioned.write(spark, dir, Seq(3).toDF("x"))
    // manual deletion of the pointer's target: pointer now dangles at 2
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(dir, "_versions/v=2"))
    assert(Versioned.latestVersion(spark, dir) === Some(1L))
    assert(Versioned.read(spark, dir).count() === 2)
  }
}

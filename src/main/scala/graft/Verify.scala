package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A query that fails does not
  * stop the others from being written, but the run then exits non-zero
  * and names every failed query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    def keep(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(GraftSession.DefaultCores)(_.toInt)
    val spark = GraftSession.prepare(GraftSession.local(cpus))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_SQL_ONLY=1: dump only oracle_sql.json (the DuckDB
    // replay side of tools/bench_medians.py needs the SQLs without
    // paying a full result-dump pass)
    val sqlOnly = sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")
    // a fatal JVM error (OOM) ends the run: the remaining outputs of a
    // damaged JVM are not worth writing
    val failed = SparkEntry.queries.toSeq.flatMap {
      case (name, fn) if !sqlOnly && keep(name) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: $e")
          Some(name)
        }
      case _ => None
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}

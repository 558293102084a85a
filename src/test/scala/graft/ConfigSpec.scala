package graft

import org.apache.spark.sql.graft.PlanDsl

/** Env-var configuration surface: reference defaults, readable
  * failures on malformed values, and the knobs actually steering the
  * components they claim to steer.
  */
class ConfigSpec extends SparkSpec {

  test("defaults match the reference surface; overrides and errors are readable") {
    val d = Config(Map.empty)
    assert(d.schema === "dwh")
    assert(d.httpTimeoutSeconds === 15)
    assert(d.checkwxApiKey === None)

    val c = Config(Map("DBT_SCHEMA" -> "analytics",
      "GRAFT_HTTP_TIMEOUT_S" -> "30", "CHECKWX_API_KEY" -> "k123"))
    assert(c.schema === "analytics")
    assert(c.httpTimeoutSeconds === 30)
    assert(c.checkwxApiKey === Some("k123"))

    // blank counts as unset; malformed ints name the variable
    assert(Config(Map("DBT_SCHEMA" -> "  ")).schema === "dwh")
    val e = intercept[IllegalArgumentException] {
      Config(Map("GRAFT_HTTP_TIMEOUT_S" -> "soon")).httpTimeoutSeconds
    }
    assert(e.getMessage.contains("GRAFT_HTTP_TIMEOUT_S"))
  }

  test("DBT_SCHEMA names the medallion warehouse layer, like the reference") {
    val root = PlanDsl.tempDir("cfg-medallion").toString
    graft.pipeline.Medallion.run(spark, sf, root,
      Config(Map("DBT_SCHEMA" -> "analytics")))
    assert(new java.io.File(s"$root/analytics_daily").exists(),
      "dwh layer should land under the configured schema name")
    assert(!new java.io.File(s"$root/dwh_daily").exists())
  }

  test("collector construction requires the API key, reads base/timeout from env") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.CheckWxSource.fromEnv(Config(Map.empty))
    }
    assert(e.getMessage.contains("CHECKWX_API_KEY"))
    val src = graft.sources.CheckWxSource.fromEnv(Config(Map(
      "CHECKWX_API_KEY" -> "k", "CHECKWX_BASE_URL" -> "http://h/metar")))
    assert(src.url(Seq("KJFK", "EGLL")) === "http://h/metar/KJFK,EGLL/decoded")
  }
}

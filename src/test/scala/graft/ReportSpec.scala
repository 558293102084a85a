package graft

import java.nio.file.Files

import org.apache.spark.sql.graft.PlanDsl

import graft.quality.{Checks, Report}

/** Rendered DQ report (the `edr report` equivalent): structure,
  * fail-row marking, escaping, truncation, filesystem write.
  */
class ReportSpec extends SparkSpec {

  private def demoChecks() = {
    import spark.implicits._
    val df = Seq((1L, "a"), (1L, "b"), (2L, null)).toDF("k", "v")
    Checks.summary(Seq(
      Checks.unique(df, "k", "k_unique", severity = Checks.Warn),
      Checks.notNull(df, "v", "v_not_null", severity = Checks.Warn)))
  }

  test("report renders every table row and marks violating checks") {
    val html = Report.render("dq", Seq(("checks", demoChecks())))
    assert(html.contains("<h2>checks</h2>"))
    assert(html.contains("k_unique") && html.contains("v_not_null"))
    // both checks have violations > 0 on the demo data → fail-marked
    assert(html.split("class=\"fail\"").length - 1 === 2)
  }

  test("cell values and titles are HTML-escaped") {
    import spark.implicits._
    val sneaky = Seq(("<script>alert(1)</script>", "b\"&c"))
      .toDF("check_name", "v")
    val html = Report.render("t<i>le", Seq(("s<e>c", sneaky)))
    assert(!html.contains("<script>"))
    assert(html.contains("&lt;script&gt;"))
    assert(html.contains("b&quot;&amp;c"))
    assert(html.contains("t&lt;i&gt;le") && html.contains("s&lt;e&gt;c"))
  }

  test("sections truncate at maxRows with a visible notice") {
    import spark.implicits._
    val big = (1 to 20).map(i => (i, s"r$i")).toDF("id", "name")
    val html = Report.section("big", big.orderBy("id"), maxRows = 5)
    assert(html.contains("first 5 rows shown"))
    assert(html.contains("r5") && !html.contains("r6</td>"))
  }

  test("write lands a self-contained page on the filesystem") {
    val path = PlanDsl.tempDir("graft-report")
      .resolve("dq.html").toString
    Report.write(spark, path, "nightly dq",
      Seq(("checks", demoChecks())))
    val html = new String(Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("nightly dq") && html.contains("k_unique"))
    assert(html.contains("</html>"))
  }

  test("non-numeric violations column renders unmarked, not a crash") {
    import spark.implicits._
    val odd = Seq(("c1", "not-a-number")).toDF("check_name", "violations")
    val html = Report.render("odd", Seq(("t", odd)))
    assert(html.contains("not-a-number") && !html.contains("class=\"fail\""))
  }

  test("null cells render as styled nulls, not literal empties") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String])).toDF("k", "v")
    val html = Report.render("n", Seq(("t", df)))
    assert(html.contains("""<td class="null">null</td>"""))
  }
}

package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality assertion library — the reference's dbt/elementary test
  * surface re-expressed as distributed aggregations
  * (SURVEY §2.10 Q1-Q8):
  *
  *  - `not_null`  (`/root/reference/dbt/models/stg/schema.yml:15,22,51`)
  *  - `unique`    (`stg/schema.yml:16`, `dwh/schema.yml:13`)
  *  - `accepted_values` 20-ICAO whitelist (`stg/schema.yml:23-45`)
  *  - `relationships` FK check (`dwh/schema.yml:19-22`)
  *  - singular SQL assertion `visibility_m < 0`
  *    (`/root/reference/dbt/tests/not_negative_visibility.sql:1-3`)
  *
  * Every check is a 1-row aggregate `(check_name, violations,
  * severity)` — no driver-side collection, each check is a single scan
  * with map-side partial aggregation, and independent checks over the
  * same table can be fused by the caller into one pass.
  *
  * `severity` mirrors dbt's error/warn distinction
  * (`stg/schema.yml:56-58`: the reference's visibility not_null is
  * `severity: warn`): [[enforce]] throws only on `error` violations;
  * `warn` violations stay in the returned report for logging, exactly
  * dbt's warn behavior.
  */
object Checks {

  val Error = "error"
  val Warn = "warn"

  private def result(name: String, violations: Column, df: DataFrame,
      severity: String): DataFrame =
    df.agg(violations.cast("long").as("violations"))
      .select(lit(name).as("check_name"), col("violations"),
        lit(severity).as("severity"))

  /** Q1/Q2: zero nulls in `c`. */
  def notNull(df: DataFrame, c: String, name: String,
      severity: String = Error): DataFrame =
    result(name, nulls(c), df, severity)

  /** Q3: no duplicate keys — violations = rows minus distinct keys. */
  def unique(df: DataFrame, c: String, name: String,
      severity: String = Error): DataFrame =
    result(name, duplicates(c), df, severity)

  /** The violations [[notNull]] counts. */
  def nulls(c: String): Column = count(when(col(c).isNull, 1))

  /** The violations [[unique]] counts. */
  def duplicates(c: String): Column = count(col(c)) - countDistinct(col(c))

  /** `error` checks over one table in ONE aggregate pass, one report
    * row per `(name, violations)` pair: what separate checks over the
    * same table would report, for one scan instead of one each.
    */
  def fused(df: DataFrame, checks: (String, Column)*): DataFrame =
    df.agg(array(checks.map { case (name, v) =>
        struct(lit(name).as("check_name"), v.cast("long").as("violations"))
      }: _*).as("checks"))
      .select(explode(col("checks")).as("c"))
      .select(col("c.check_name"), col("c.violations"), lit(Error).as("severity"))

  /** Q4: column values restricted to a whitelist (nulls not counted,
    * matching dbt `accepted_values`).
    */
  def acceptedValues(df: DataFrame, c: String, allowed: Seq[String], name: String,
      severity: String = Error): DataFrame =
    result(name, count(when(col(c).isNotNull && !col(c).isin(allowed: _*), 1)), df,
      severity)

  /** Q5/J2: referential integrity — every `childKey` exists in
    * `parent.parentKey`. Implemented as a left-anti join (broadcast
    * when the parent is a dimension) + count.
    */
  def relationships(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, name: String,
      severity: String = Error): DataFrame = {
    // dbt parity: the relationships test filters `where child_column
    // is not null` — a legitimately-nullable FK's null rows are
    // not_null's concern, not referential integrity's (and null ===
    // parentKey is NULL, so left_anti would otherwise count every
    // null-key row as an orphan). The parent key is aliased to a name
    // NOT present in the child so neither childKey == parentKey (the
    // common FK naming) nor a pathological child column named like the
    // alias can make the join condition ambiguous.
    val alias = Iterator.from(0).map(i => "_parent_key" + ("_" * i))
      .find(a => !child.columns.contains(a)).get
    val orphans = child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(alias)),
        col(childKey) === col(alias), "left_anti")
    result(name, count(lit(1)), orphans, severity)
  }

  /** Q8/F6: singular assertion — zero rows may satisfy `predicate`. */
  def expression(df: DataFrame, predicate: Column, name: String,
      severity: String = Error): DataFrame =
    result(name, count(when(predicate, 1)), df, severity)

  /** Union a set of checks into one report, deterministically ordered. */
  def summary(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_ unionByName _).orderBy("check_name")

  /** Run checks; throw on `error`-severity violations (dbt `error`
    * behavior), keep `warn`-severity violations in the returned report
    * only (dbt `warn` behavior — the pipeline proceeds).
    */
  def enforce(checks: Seq[DataFrame]): DataFrame = {
    // tiny (one row per check): ONE collect runs every check, and the
    // error scan, the ordering and the returned report work on the
    // collected rows — no checkpoint, no range-sampling sort job
    val all = checks.reduce(_ unionByName _)
    val rows = all.collect().sortBy(_.getString(0))
    val bad = rows.filter(r => r.getLong(1) > 0 && r.getString(2) == Error)
    if (bad.nonEmpty)
      throw new AssertionError(
        "quality checks failed: " +
          bad.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
    all.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), all.schema)
  }
}

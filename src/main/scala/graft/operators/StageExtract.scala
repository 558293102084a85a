package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Typed staging extraction from a semi-structured payload column —
  * the reference's `stg` layer (`payload ->> 'k'` + `::cast`s,
  * `/root/reference/dbt/models/stg/stg_metar_observations.sql:22-40`)
  * and its guarded int cast / regex filter in `ods`
  * (`/root/reference/dbt/models/ods/ods_metar_latest.sql:13-23`).
  *
  * Cast semantics: Postgres casts are strict; Spark 4 runs ANSI mode by
  * default which matches. Where the reference deliberately guards a
  * cast with a regex (`ods…sql:13-16`) use [[guardedIntCast]], which
  * reproduces null-on-nonnumeric without disabling ANSI.
  */
object StageExtract {

  def jsonField(payload: Column, jsonPath: String): Column =
    get_json_object(payload, jsonPath)

  /** `CASE WHEN s ~ '^[0-9]+$' THEN s::int END` — null on non-numeric,
    * identical to the reference's guarded cast.
    */
  def guardedIntCast(c: Column): Column =
    when(c.rlike("^[0-9]+$"), c.cast("int"))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** External-database upsert sink — the engine-side twin of the
  * reference's Postgres landing step (`src/etl/mongo_to_postgres.py:
  * 89-112`: batched `INSERT ... ON CONFLICT (id) DO UPDATE SET
  * payload = EXCLUDED.payload`), re-expressed for Spark's execution
  * model: each partition opens its own connection and streams its rows
  * through ONE PreparedStatement in JDBC batches, so the write scales
  * with executors instead of funneling through a driver-side cursor
  * like the reference's single-process `execute_values` loop.
  *
  * Statement generation is dialect-split:
  *  - [[postgresUpsertSql]] — the reference's exact `ON CONFLICT`
  *    shape (server not present in this sandbox, so it is gated as
  *    generated SQL);
  *  - [[ansiMergeSql]] — ANSI `MERGE INTO ... USING (VALUES ...)`
  *    for databases without ON CONFLICT (DB2 / SQL Server family;
  *    gated as generated SQL — embedded Derby restricts MERGE sources
  *    to base tables, so it cannot run this one);
  *  - [[writeGeneric]] — the dialect-free UPDATE-then-INSERT
  *    protocol, exercised END TO END against embedded Derby in
  *    JdbcUpsertSpec (insert, update, idempotent replay).
  *
  * Delivery contract: at-least-once per partition (a task retry
  * replays its partition's statements), collapsed to effectively
  * exactly-once by the upsert itself — the same T7 argument as
  * [[MergeWriter]]. [[write]] first co-partitions rows by key so no
  * key is upserted from two connections concurrently (no cross-task
  * write-write conflict, no lost update between MATCHED/NOT MATCHED).
  */
object JdbcUpsert {

  private def ident(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"unsafe SQL identifier: $name")
    name
  }

  /** Table names may be schema-qualified — validate each dot-separated
    * part with the same unsafe-identifier guard every column gets. */
  private def identTable(name: String): String = {
    val parts = name.split("\\.", -1)
    require(parts.nonEmpty && parts.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"unsafe SQL table name: $name")
    name
  }

  /** Postgres `INSERT ... ON CONFLICT (keys) DO UPDATE SET c =
    * EXCLUDED.c` with one `?` placeholder per column, in column order.
    * @param extraSet verbatim extra SET clauses (the reference stamps
    *                 `inserted_at = now()`)
    */
  def postgresUpsertSql(table: String, cols: Seq[String],
      keys: Seq[String], extraSet: Seq[String] = Nil): String = {
    require(keys.nonEmpty && keys.forall(cols.contains),
      "keys must be a non-empty subset of cols")
    identTable(table); cols.foreach(ident); keys.foreach(ident)
    val nonKeys = cols.filterNot(keys.contains)
    require(nonKeys.nonEmpty || extraSet.nonEmpty,
      "nothing to update on conflict")
    val sets = nonKeys.map(c => s"$c = EXCLUDED.$c") ++ extraSet
    s"INSERT INTO ${table} (${cols.mkString(", ")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET " +
      sets.mkString(", ")
  }

  /** ANSI MERGE equivalent for databases without ON CONFLICT (DB2,
    * SQL Server family). Parameters inside a VALUES row source are
    * untyped, so each is CAST to its column's SQL type.
    * @param cols (name, sqlType) in placeholder order
    */
  def ansiMergeSql(table: String, cols: Seq[(String, String)],
      keys: Seq[String]): String = {
    val names = cols.map(_._1)
    require(keys.nonEmpty && keys.forall(names.contains),
      "keys must be a non-empty subset of cols")
    identTable(table); names.foreach(ident); keys.foreach(ident)
    val nonKeys = names.filterNot(keys.contains)
    require(nonKeys.nonEmpty, "nothing to update on match")
    val src = cols.map { case (_, t) => s"CAST(? AS $t)" }.mkString(", ")
    s"MERGE INTO ${table} t USING (VALUES ($src)) " +
      s"s (${names.mkString(", ")}) ON " +
      keys.map(k => s"t.$k = s.$k").mkString(" AND ") +
      " WHEN MATCHED THEN UPDATE SET " +
      nonKeys.map(c => s"$c = s.$c").mkString(", ") +
      s" WHEN NOT MATCHED THEN INSERT (${names.mkString(", ")})" +
      s" VALUES (${names.map(n => s"s.$n").mkString(", ")})"
  }

  /** Duplicate-key test by SQLState, NOT exception class —
    * SQLIntegrityConstraintViolationException covers NOT NULL/CHECK/FK
    * too in most drivers. 23505 is the standard unique-violation state
    * (Postgres/Derby/H2); the 23000 family is generic integrity, so it
    * only counts with a known duplicate-key vendor code (MySQL 1062,
    * SQL Server 2601/2627, Oracle 1).
    */
  private def isDuplicateKey(e: java.sql.SQLException): Boolean = {
    val state = Option(e.getSQLState).getOrElse("")
    state == "23505" ||
      (state == "23000" &&
        Set(1, 1062, 2601, 2627).contains(e.getErrorCode))
  }

  /** Dialect-free upsert: per row, UPDATE by key; if no row matched,
    * INSERT — the universal two-statement JDBC protocol (safe under
    * the per-key co-partitioning [[write]] and this method share, and
    * under each partition's single transaction). Unbatchable by
    * nature, so prefer the single-statement dialects where the server
    * offers one; correctness contract (at-least-once replay collapses)
    * is identical.
    *
    * Replay caveat: drivers with AFFECTED-rows semantics (MySQL
    * without `CLIENT_FOUND_ROWS`) return 0 from an UPDATE that writes
    * identical values, sending a replayed row down the INSERT branch.
    * The duplicate-key failure that causes is caught — narrowly, by
    * SQLState, so NOT NULL/CHECK/FK violations still fail loudly —
    * and answered with one more UPDATE: a no-op for the replay, and
    * the correct apply when a concurrent writer inserted the key
    * between this row's UPDATE and INSERT. Connect with matched-rows
    * semantics where available; the handling keeps replays idempotent
    * either way.
    */
  def writeGeneric(df: DataFrame, url: String, table: String,
      keys: Seq[String]): Unit = {
    identTable(table)
    val cols = df.schema.fieldNames.toSeq
    cols.foreach(ident); keys.foreach(ident)
    val nonKeys = cols.filterNot(keys.contains)
    require(keys.forall(cols.contains) && nonKeys.nonEmpty,
      "keys must be a proper subset of the columns")
    val updateSql = s"UPDATE ${table} SET " +
      nonKeys.map(c => s"$c = ?").mkString(", ") +
      " WHERE " + keys.map(k => s"$k = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO ${table} (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val updOrder = (nonKeys ++ keys).map(cols.indexOf)
    df.repartition(keys.map(col): _*).foreachPartition {
      (it: Iterator[Row]) =>
        if (it.hasNext) {
          val conn = java.sql.DriverManager.getConnection(url)
          var savepoints = true
          var releaseFails = 0
          var releaseFailsTotal = 0
          try {
            conn.setAutoCommit(false)
            val upd = conn.prepareStatement(updateSql)
            val ins = conn.prepareStatement(insertSql)
            try {
              it.foreach { row =>
                updOrder.zipWithIndex.foreach { case (src, i) =>
                  upd.setObject(i + 1, row.get(src))
                }
                if (upd.executeUpdate() == 0) {
                  cols.indices.foreach(i => ins.setObject(i + 1, row.get(i)))
                  // savepoint so the retry works on transaction-level-
                  // abort databases too (PostgreSQL with autoCommit
                  // off poisons the tx after ANY failed statement —
                  // 25P02 — so without rolling back to a savepoint the
                  // recovery UPDATE below could never run there).
                  // Feature-detected once per partition: drivers
                  // without savepoints keep the statement-level-
                  // rollback recovery they always had instead of
                  // failing every fresh insert.
                  val sp =
                    if (savepoints)
                      try conn.setSavepoint()
                      catch {
                        case _: java.sql.SQLFeatureNotSupportedException
                            | _: UnsupportedOperationException =>
                          savepoints = false; null
                      }
                    else null
                  try {
                    ins.executeUpdate()
                    // guarded like the rollback-path release: a driver
                    // can accept setSavepoint yet reject release
                    // (Oracle) — that must disable the optimization,
                    // not fail a successful insert
                    if (sp != null)
                      try { conn.releaseSavepoint(sp); releaseFails = 0 }
                      catch {
                        // not-supported signals disable the
                        // optimization immediately; a GENERIC
                        // SQLException disables it only after 3
                        // CONSECUTIVE failures — a driver that
                        // persistently rejects release would
                        // otherwise accumulate one live savepoint
                        // per inserted row until commit, while a
                        // one-off transient failure must NOT
                        // permanently strip the tx-abort protection
                        // the savepoint exists for (PostgreSQL
                        // poisons the tx after any failed statement;
                        // without the savepoint a later lost
                        // duplicate-key race would abort the whole
                        // partition write)
                        case _: java.sql.SQLFeatureNotSupportedException
                            | _: UnsupportedOperationException =>
                          savepoints = false
                        // A TOTAL cap backstops the consecutive one:
                        // a driver failing every OTHER release resets
                        // the consecutive counter each success yet
                        // still leaks one live savepoint per failure
                        // until commit — exactly the accumulation the
                        // disable exists to prevent, at half rate.
                        case _: java.sql.SQLException =>
                          releaseFails += 1
                          releaseFailsTotal += 1
                          if (releaseFails >= 3 || releaseFailsTotal >= 10)
                            savepoints = false
                      }
                  } catch {
                    // ONLY duplicate-key means "the key exists" —
                    // NOT NULL/CHECK/FK violations share the exception
                    // type in most drivers and must still fail the
                    // batch. A duplicate here is either an
                    // affected-rows replay (already applied) or a
                    // concurrent insert that won the race; re-running
                    // the UPDATE applies THIS row's values in the
                    // race case and is a same-value no-op in the
                    // replay case, so both stay idempotent.
                    case e: java.sql.SQLException if isDuplicateKey(e) =>
                      if (sp != null) {
                        conn.rollback(sp)
                        // rollback keeps the savepoint alive; release
                        // it so subtransactions don't pile up until
                        // commit (best-effort — some drivers disallow
                        // release-after-rollback)
                        try conn.releaseSavepoint(sp)
                        catch { case _: java.sql.SQLException => () }
                      }
                      upd.executeUpdate()
                  }
                }
              }
              conn.commit()
            } catch {
              case e: Throwable =>
                // a rollback on a dead/poisoned connection throws too —
                // it must not REPLACE the original write error in the
                // task failure (suppress it instead)
                try conn.rollback()
                catch { case r: Throwable => e.addSuppressed(r) }
                throw e
            } finally { upd.close(); ins.close() }
          } finally conn.close()
        }
    }
  }

  /** Execute `sql` (one `?` per column of `df`, in schema order) for
    * every row, batched per partition, one transaction per partition.
    * Rows are first co-partitioned by `keys` so a key never writes
    * from two tasks at once.
    */
  def write(df: DataFrame, url: String, sql: String, keys: Seq[String],
      batchSize: Int = 500): Unit = {
    val width = df.schema.length
    df.repartition(keys.map(col): _*).foreachPartition {
      (it: Iterator[Row]) =>
        if (it.hasNext) {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val ps = conn.prepareStatement(sql)
            try {
              var n = 0
              it.foreach { row =>
                var i = 0
                while (i < width) {
                  ps.setObject(i + 1, row.get(i))
                  i += 1
                }
                ps.addBatch()
                n += 1
                if (n % batchSize == 0) ps.executeBatch()
              }
              ps.executeBatch()
              conn.commit()
            } catch {
              case e: Throwable =>
                // a rollback on a dead/poisoned connection throws too —
                // it must not REPLACE the original write error in the
                // task failure (suppress it instead)
                try conn.rollback()
                catch { case r: Throwable => e.addSuppressed(r) }
                throw e
            } finally ps.close()
          } finally conn.close()
        }
    }
  }
}

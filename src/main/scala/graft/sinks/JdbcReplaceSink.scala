package graft.sinks

import java.sql.{Connection, PreparedStatement}
import org.apache.spark.sql.{DataFrame, Row}

/** S6 — REPLACE-INTO bulk load (SURVEY.md §2.1). The reference bulk-loads
  * per-opco CSVs with `LOAD DATA FROM S3 ... REPLACE INTO TABLE`, adding
  * audit columns from job args
  * (`/root/reference/src/price_zone/load_job.py:74-90`,
  * `/root/reference/src/pa/pa_etl_script.py:139-160`). Spark's JDBC
  * writer has no upsert mode, so this sink issues batched
  * `REPLACE INTO` statements from `foreachPartition`.
  *
  * Semantics & retry safety: REPLACE = delete-then-insert on PK conflict
  * (MySQL dialect), which is row-idempotent — a Spark task retry replays
  * the same rows to the same end state, so no dedup bookkeeping is
  * needed (the property the reference relies on for its file-level
  * retries).
  *
  * Scale design: one connection per partition (not per row), batches of
  * `batchSize`, one commit per partition — REPLACE idempotency makes a
  * retried partition safe, so there is no need for mid-partition
  * commits. `repartition(groupCols…)` upstream gives per-target
  * parallel streams — the distributed replacement for the reference's
  * one-thread file queue (`load_job.py:114`).
  */
object JdbcReplaceSink {

  /** How "replace on PK conflict" is expressed against the target.
    *
    *  - [[MySqlReplace]]: the reference's dialect — one
    *    `REPLACE INTO` statement, the server deletes-then-inserts on
    *    conflict.
    *  - [[DeleteThenInsert]]: portable ANSI form for engines without
    *    REPLACE (Derby, Postgres, ...): an explicit DELETE-by-key batch
    *    followed by an INSERT batch inside the same per-partition
    *    transaction. Requires `keyColumns`. Rows in a statement batch
    *    are deduplicated keeping the LAST occurrence per key, which is
    *    exactly REPLACE's sequential final state (all deletes of a
    *    chunk run before its inserts, so an in-chunk duplicate would
    *    otherwise violate the PK on the second insert).
    *
    * Both are row-idempotent, so Spark task retries are safe. */
  sealed trait ReplaceDialect
  case object MySqlReplace extends ReplaceDialect
  case object DeleteThenInsert extends ReplaceDialect

  /** True upserts — update-in-place on key conflict instead of
    * REPLACE's delete-then-insert. What a production loader usually
    * wants: REPLACE churns auto-increment ids and cascades FK deletes
    * on every refresh, while an upsert leaves the conflicting row's
    * identity intact and only rewrites the non-key columns.
    *
    *  - [[MySqlUpsert]]: one `INSERT ... ON DUPLICATE KEY UPDATE`
    *    statement (MySQL dialect, same server family as the
    *    reference's REPLACE).
    *  - [[UpdateThenInsert]]: portable ANSI form (Derby, Postgres
    *    pre-9.5, ...): an UPDATE batch first, then INSERT exactly the
    *    rows whose update matched nothing, inside the per-partition
    *    transaction.
    *
    * Both require `keyColumns` and are row-idempotent (replaying a
    * partition converges to the same end state), so Spark task retries
    * stay safe. */
  case object MySqlUpsert extends ReplaceDialect
  case object UpdateThenInsert extends ReplaceDialect

  final case class Config(
      table: String,
      columns: Seq[String],
      /** Audit values appended to every row, e.g. ARRIVED_TIME. */
      auditColumns: Seq[(String, String)] = Seq.empty,
      batchSize: Int = 1000,
      dialect: ReplaceDialect = MySqlReplace,
      /** PK columns — required by [[DeleteThenInsert]] (must be a
        * subset of `columns`). */
      keyColumns: Seq[String] = Seq.empty) {
    require(
      (dialect != DeleteThenInsert && dialect != MySqlUpsert &&
        dialect != UpdateThenInsert) ||
        (keyColumns.nonEmpty && keyColumns.forall(columns.contains)),
      s"$dialect requires keyColumns ⊆ columns")
    require(
      dialect == MySqlReplace || dialect == DeleteThenInsert ||
        (columns ++ auditColumns.map(_._1)).exists(c => !keyColumns.contains(c)),
      s"$dialect requires at least one non-key column to update")
  }

  /** Valid unquoted SQL identifier or dotted pair (`db.table`). Config
    * identifiers come from pipeline code, not user data, but validating
    * here keeps a misconfigured table/column name from turning into
    * arbitrary SQL. */
  private val identRe = "[A-Za-z_][A-Za-z0-9_$]*".r
  private def quoteIdent(name: String): String = {
    val parts = name.split('.')
    require(
      parts.nonEmpty && parts.forall(identRe.matches),
      s"invalid SQL identifier: '$name'")
    parts.map(p => s"`$p`").mkString(".")
  }

  /** The parameterized REPLACE statement (MySQL dialect): data columns
    * bound per row, audit columns bound once. Identifiers are validated
    * and backtick-quoted. */
  def replaceSql(cfg: Config): String = {
    val cols = (cfg.columns ++ cfg.auditColumns.map(_._1)).map(quoteIdent)
    val marks = Seq.fill(cols.size)("?")
    s"REPLACE INTO ${quoteIdent(cfg.table)} (${cols.mkString(", ")}) VALUES (${marks.mkString(", ")})"
  }

  /** Validated identifier, emitted UNQUOTED for the ANSI path: quoted
    * identifiers are case-sensitive in ANSI engines (Derby folds
    * unquoted names to upper case), so quoting here would break against
    * tables created with ordinary unquoted DDL. The regex validation is
    * what prevents injection; quoting was only ever belt-and-braces. */
  private def ansiIdent(name: String): String = {
    val parts = name.split('.')
    require(
      parts.nonEmpty && parts.forall(identRe.matches),
      s"invalid SQL identifier: '$name'")
    name
  }

  /** The `INSERT ... ON DUPLICATE KEY UPDATE` statement ([[MySqlUpsert]]):
    * every non-key column (audit columns included — a refreshed row gets
    * the new load's audit stamp) is rewritten from the incoming row via
    * `VALUES(col)`; key columns are untouched, so the conflicting row
    * keeps its identity. */
  def upsertSql(cfg: Config): String = {
    val cols = (cfg.columns ++ cfg.auditColumns.map(_._1)).map(quoteIdent)
    val marks = Seq.fill(cols.size)("?")
    val updates = (cfg.columns ++ cfg.auditColumns.map(_._1))
      .filterNot(cfg.keyColumns.contains)
      .map(c => s"${quoteIdent(c)} = VALUES(${quoteIdent(c)})")
    s"INSERT INTO ${quoteIdent(cfg.table)} (${cols.mkString(", ")}) " +
      s"VALUES (${marks.mkString(", ")}) " +
      s"ON DUPLICATE KEY UPDATE ${updates.mkString(", ")}"
  }

  /** UPDATE-by-key statement for [[UpdateThenInsert]]: SET every
    * non-key column, WHERE every key column. */
  def updateSql(cfg: Config): String = {
    val sets = (cfg.columns ++ cfg.auditColumns.map(_._1))
      .filterNot(cfg.keyColumns.contains)
      .map(c => s"${ansiIdent(c)} = ?")
    s"UPDATE ${ansiIdent(cfg.table)} SET ${sets.mkString(", ")} WHERE " +
      cfg.keyColumns.map(k => s"${ansiIdent(k)} = ?").mkString(" AND ")
  }

  /** DELETE-by-key statement for [[DeleteThenInsert]]. */
  def deleteSql(cfg: Config): String =
    s"DELETE FROM ${ansiIdent(cfg.table)} WHERE " +
      cfg.keyColumns.map(k => s"${ansiIdent(k)} = ?").mkString(" AND ")

  /** INSERT statement for [[DeleteThenInsert]]. */
  def insertSql(cfg: Config): String = {
    val cols = (cfg.columns ++ cfg.auditColumns.map(_._1)).map(ansiIdent)
    val marks = Seq.fill(cols.size)("?")
    s"INSERT INTO ${ansiIdent(cfg.table)} (${cols.mkString(", ")}) VALUES (${marks.mkString(", ")})"
  }

  /** Load one partition's rows through one connection. Returns rows
    * written. Exposed for direct testing. */
  def writePartition(rows: Iterator[Row], conn: Connection, cfg: Config): Long =
    cfg.dialect match {
      case MySqlReplace => writeSingleStatement(rows, conn, cfg, replaceSql(cfg))
      case MySqlUpsert => writeSingleStatement(rows, conn, cfg, upsertSql(cfg))
      case DeleteThenInsert => writeDeleteInsert(rows, conn, cfg)
      case UpdateThenInsert => writeUpdateInsert(rows, conn, cfg)
    }

  /** Batched single-statement path shared by the MySQL dialects (the
    * server resolves the conflict; REPLACE and ON DUPLICATE KEY UPDATE
    * bind identically). */
  private def writeSingleStatement(
      rows: Iterator[Row], conn: Connection, cfg: Config, sql: String): Long = {
    val stmt: PreparedStatement = conn.prepareStatement(sql)
    val nData = cfg.columns.size
    var inBatch = 0
    var total = 0L
    try {
      conn.setAutoCommit(false)
      rows.foreach { row =>
        var i = 0
        while (i < nData) {
          stmt.setObject(i + 1, row.get(row.fieldIndex(cfg.columns(i))))
          i += 1
        }
        cfg.auditColumns.zipWithIndex.foreach { case ((_, v), j) =>
          stmt.setObject(nData + j + 1, v)
        }
        stmt.addBatch()
        inBatch += 1
        total += 1
        if (inBatch >= cfg.batchSize) {
          stmt.executeBatch()
          inBatch = 0
        }
      }
      if (inBatch > 0) stmt.executeBatch()
      conn.commit()
      total
    } finally {
      stmt.close()
    }
  }

  /** Portable replace: per chunk of `batchSize` input rows, dedupe
    * keeping the last occurrence per key (REPLACE's sequential final
    * state), run the DELETE batch, then the INSERT batch; one commit
    * per partition. Row-idempotent like REPLACE, so task retries are
    * safe. Returns the INPUT row count (like the REPLACE dialect), not
    * the post-dedup insert count — the two dialects must report the
    * same number for the same partition. */
  private def writeDeleteInsert(rows: Iterator[Row], conn: Connection, cfg: Config): Long = {
    val del = conn.prepareStatement(deleteSql(cfg))
    val ins = conn.prepareStatement(insertSql(cfg))
    val nData = cfg.columns.size
    var total = 0L
    try {
      conn.setAutoCommit(false)
      rows.grouped(cfg.batchSize).foreach { chunk =>
        total += chunk.size
        // keep-last per key within the chunk. Byte-array key columns
        // compare by reference, so wrap them value-comparable — without
        // this, two byte-equal BINARY keys in one chunk both INSERT and
        // trip the PK (a conflict REPLACE INTO would have absorbed).
        def comparable(v: Any): Any = v match {
          case b: Array[Byte] => b.toSeq
          case x => x
        }
        val byKey = new scala.collection.mutable.LinkedHashMap[Seq[Any], Row]
        chunk.foreach { row =>
          val key = cfg.keyColumns.map(k => comparable(row.get(row.fieldIndex(k))))
          byKey.remove(key)
          byKey.put(key, row)
        }
        byKey.foreach { case (_, row) =>
          // bind DELETE params from the ORIGINAL row values — the
          // comparable-wrapped Seq is only a map key (setObject cannot
          // bind a Scala Seq for a BINARY key column)
          cfg.keyColumns.zipWithIndex.foreach { case (k, i) =>
            del.setObject(i + 1, row.get(row.fieldIndex(k)))
          }
          del.addBatch()
          var i = 0
          while (i < nData) {
            ins.setObject(i + 1, row.get(row.fieldIndex(cfg.columns(i))))
            i += 1
          }
          cfg.auditColumns.zipWithIndex.foreach { case ((_, v), j) =>
            ins.setObject(nData + j + 1, v)
          }
          ins.addBatch()
        }
        del.executeBatch()
        ins.executeBatch()
      }
      conn.commit()
      total
    } finally {
      del.close()
      ins.close()
    }
  }

  /** Portable upsert: per chunk, dedupe keeping the last occurrence per
    * key (two same-key rows would otherwise both miss the UPDATE and
    * collide on INSERT), run the UPDATE batch, then INSERT exactly the
    * rows the driver reported as matching nothing. Update-in-place on
    * hit — the conflicting row keeps its identity (no delete, no
    * auto-increment churn), which is the semantic difference from
    * [[DeleteThenInsert]]. Relies on the driver reporting real update
    * counts (Derby and Postgres do; MySQL should use [[MySqlUpsert]]).
    * Returns INPUT row count like every other dialect. */
  private def writeUpdateInsert(rows: Iterator[Row], conn: Connection, cfg: Config): Long = {
    val upd = conn.prepareStatement(updateSql(cfg))
    val ins = conn.prepareStatement(insertSql(cfg))
    val dataCols = cfg.columns
    val nonKey = (dataCols ++ cfg.auditColumns.map(_._1)).filterNot(cfg.keyColumns.contains)
    val auditVals = cfg.auditColumns.toMap
    var total = 0L
    try {
      conn.setAutoCommit(false)
      rows.grouped(cfg.batchSize).foreach { chunk =>
        total += chunk.size
        def comparable(v: Any): Any = v match {
          case b: Array[Byte] => b.toSeq
          case x => x
        }
        val byKey = new scala.collection.mutable.LinkedHashMap[Seq[Any], Row]
        chunk.foreach { row =>
          val key = cfg.keyColumns.map(k => comparable(row.get(row.fieldIndex(k))))
          byKey.remove(key)
          byKey.put(key, row)
        }
        val deduped = byKey.values.toSeq
        deduped.foreach { row =>
          var i = 0
          nonKey.foreach { c =>
            i += 1
            upd.setObject(i,
              auditVals.getOrElse(c, row.get(row.fieldIndex(c))))
          }
          cfg.keyColumns.foreach { k =>
            i += 1
            upd.setObject(i, row.get(row.fieldIndex(k)))
          }
          upd.addBatch()
        }
        val counts = upd.executeBatch()
        deduped.zip(counts.toSeq).foreach { case (row, n) =>
          if (n == 0) {
            var i = 0
            while (i < dataCols.size) {
              ins.setObject(i + 1, row.get(row.fieldIndex(dataCols(i))))
              i += 1
            }
            cfg.auditColumns.zipWithIndex.foreach { case ((_, v), j) =>
              ins.setObject(dataCols.size + j + 1, v)
            }
            ins.addBatch()
          }
        }
        ins.executeBatch()
      }
      conn.commit()
      total
    } finally {
      upd.close()
      ins.close()
    }
  }

  /** Distributed load: one connection per partition. `connectionFactory`
    * must be serializable (typically a case class holding url/props). A
    * failed partition is rolled back before its connection closes, so
    * the batch's own error surfaces (some drivers refuse to close a
    * connection with an open transaction); errors from the rollback or
    * the close ride along as suppressed exceptions. */
  def write(df: DataFrame, cfg: Config, connectionFactory: () => Connection): Unit =
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.nonEmpty) {
        val conn = connectionFactory()
        try writePartition(rows, conn, cfg)
        catch {
          case e: Throwable =>
            try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
            try conn.close() catch { case c: Throwable => e.addSuppressed(c) }
            throw e
        }
        conn.close()
      }
      ()
    }
}

package graft.sinks

import java.sql.{Connection, PreparedStatement, SQLException}
import org.apache.spark.sql.{DataFrame, Row}

/** S6 — REPLACE-INTO bulk load (SURVEY.md §2.1). The reference bulk-loads
  * per-opco CSVs with `LOAD DATA FROM S3 ... REPLACE INTO TABLE`, adding
  * audit columns from job args
  * (`/root/reference/src/price_zone/load_job.py:74-90`,
  * `/root/reference/src/pa/pa_etl_script.py:139-160`). Spark's JDBC
  * writer has no upsert mode, so this sink sends batched statements
  * from `foreachPartition`: `REPLACE INTO` on MySQL; elsewhere plain
  * INSERTs, with conflict statements only once a key turns out to exist,
  * as REPLACE deletes a row only when its key is already there.
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
  * commits. `repartition(keyCols…)` upstream gives per-target parallel
  * streams — the distributed replacement for the reference's one-thread
  * file queue (`load_job.py:114`) — and is required, see [[write]].
  */
object JdbcReplaceSink {

  /** How "replace on PK conflict" is expressed against the target.
    *
    *  - [[MySqlReplace]]: the reference's dialect — one
    *    `REPLACE INTO` statement, the server deletes-then-inserts on
    *    conflict.
    *  - [[DeleteThenInsert]]: portable ANSI form for engines without
    *    REPLACE (Derby, Postgres, ...). Requires `keyColumns`. Each
    *    chunk of `batchSize` rows goes first as a plain INSERT batch
    *    under a savepoint. If it fails with an integrity constraint
    *    error (SQLState class 23, e.g. a key that already exists), the
    *    sink rolls back to the savepoint and writes that chunk and every
    *    later one of the partition as a DELETE-by-key batch followed by
    *    an INSERT batch, so a full reload spends one failed INSERT batch
    *    per partition. A driver whose metadata reports no savepoints
    *    gets DELETE+INSERT for every chunk. Rows in a chunk are
    *    deduplicated keeping the LAST occurrence per key, which is
    *    exactly REPLACE's sequential final state (an in-chunk duplicate
    *    would otherwise violate the PK on its second insert).
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
    *    pre-9.5, ...). Inserts first like [[DeleteThenInsert]]; from
    *    the first conflicting chunk on (or always, without savepoints)
    *    it runs an UPDATE batch, then INSERTs exactly the rows whose
    *    update matched nothing, which relies on the driver reporting
    *    real update counts (Derby and Postgres do; MySQL should use
    *    [[MySqlUpsert]]).
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

  /** INSERT statement of the portable dialects. */
  def insertSql(cfg: Config): String = {
    val cols = (cfg.columns ++ cfg.auditColumns.map(_._1)).map(ansiIdent)
    val marks = Seq.fill(cols.size)("?")
    s"INSERT INTO ${ansiIdent(cfg.table)} (${cols.mkString(", ")}) VALUES (${marks.mkString(", ")})"
  }

  /** Load one partition's rows through one connection, in chunks of
    * `batchSize` (see [[ReplaceDialect]] for what each chunk sends), with
    * one commit; the conflict statements are prepared on first use.
    * Returns the INPUT row count, not the post-dedupe count, so every
    * dialect reports the same number. Exposed for direct testing. */
  def writePartition(rows: Iterator[Row], conn: Connection, cfg: Config): Long = {
    val dialect = cfg.dialect
    val keyed = dialect == DeleteThenInsert || dialect == UpdateThenInsert
    val ins = conn.prepareStatement(dialect match {
      case MySqlReplace => replaceSql(cfg)
      case MySqlUpsert => upsertSql(cfg)
      case _ => insertSql(cfg)
    })
    var onConflict: PreparedStatement = null
    var insertFirst = keyed && supportsSavepoints(conn)
    var bind: Binder = null
    var total = 0L
    try {
      conn.setAutoCommit(false)
      rows.grouped(cfg.batchSize).foreach { chunk =>
        total += chunk.size
        if (bind == null) bind = new Binder(chunk.head, cfg)
        if (!keyed) {
          chunk.foreach(bind.insert(ins, _))
          ins.executeBatch()
        } else {
          val last = bind.keepLast(chunk)
          if (!(insertFirst && tryInsert(last, ins, bind, conn))) {
            insertFirst = false
            if (onConflict == null)
              onConflict = conn.prepareStatement(
                if (dialect == DeleteThenInsert) deleteSql(cfg) else updateSql(cfg))
            if (dialect == DeleteThenInsert) {
              last.foreach(bind.delete(onConflict, _))
              onConflict.executeBatch()
              last.foreach(bind.insert(ins, _))
            } else {
              last.foreach(bind.update(onConflict, _))
              val counts = onConflict.executeBatch()
              last.zip(counts).foreach { case (row, n) => if (n == 0) bind.insert(ins, row) }
            }
            ins.executeBatch()
          }
        }
      }
      conn.commit()
      total
    } finally {
      ins.close()
      if (onConflict != null) onConflict.close()
    }
  }

  /** One plain INSERT batch under a savepoint. False, with the batch's
    * rows rolled back, when it hit an integrity constraint; any other
    * error propagates. */
  private def tryInsert(
      rows: Seq[Row], ins: PreparedStatement, bind: Binder, conn: Connection): Boolean = {
    val savepoint = conn.setSavepoint()
    try {
      rows.foreach(bind.insert(ins, _))
      ins.executeBatch()
      conn.releaseSavepoint(savepoint)
      true
    } catch {
      case e: SQLException if violatesConstraint(e) =>
        conn.rollback(savepoint)
        ins.clearBatch()
        false
    }
  }

  private def supportsSavepoints(conn: Connection): Boolean =
    try conn.getMetaData.supportsSavepoints
    catch { case _: SQLException => false }

  /** SQLState class 23 (integrity constraint violation: duplicate key,
    * NOT NULL, ...) on the exception, its `getNextException` chain (where
    * batch drivers put the failing statement's error) or its causes. */
  private def violatesConstraint(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
    def walk(t: Throwable): Boolean = t != null && seen.add(t) && (t match {
      case s: SQLException =>
        Option(s.getSQLState).exists(_.startsWith("23")) ||
          walk(s.getNextException) || walk(s.getCause)
      case _ => walk(t.getCause)
    })
    walk(e)
  }

  /** Binds rows by position: the columns' indexes are looked up once per
    * partition, from its first row's schema, not by name per value. */
  private final class Binder(first: Row, cfg: Config) {
    private val data = cfg.columns.map(first.fieldIndex).toArray
    private val keys = cfg.keyColumns.map(first.fieldIndex).toArray
    private val audit = cfg.auditColumns.map(_._2).toArray
    /** [[updateSql]]'s SET list: an audit value, or a data column's index. */
    private val sets: Array[Either[String, Int]] = {
      val auditByName = cfg.auditColumns.toMap
      (cfg.columns ++ cfg.auditColumns.map(_._1)).filterNot(cfg.keyColumns.contains)
        .map(c => auditByName.get(c).toLeft(first.fieldIndex(c))).toArray
    }

    /** Data columns, then audit values: the INSERT, REPLACE and upsert row. */
    def insert(st: PreparedStatement, row: Row): Unit = {
      var i = 0
      while (i < data.length) { st.setObject(i + 1, row.get(data(i))); i += 1 }
      var j = 0
      while (j < audit.length) { st.setObject(data.length + j + 1, audit(j)); j += 1 }
      st.addBatch()
    }

    def delete(st: PreparedStatement, row: Row): Unit = {
      bindKeys(st, row, 0)
      st.addBatch()
    }

    def update(st: PreparedStatement, row: Row): Unit = {
      var i = 0
      while (i < sets.length) {
        st.setObject(i + 1, sets(i) match { case Left(v) => v; case Right(c) => row.get(c) })
        i += 1
      }
      bindKeys(st, row, sets.length)
      st.addBatch()
    }

    /** Binds the row's own key values: a byte-array key must reach
      * `setObject` as the array, not as [[keepLast]]'s wrapper. */
    private def bindKeys(st: PreparedStatement, row: Row, offset: Int): Unit = {
      var k = 0
      while (k < keys.length) { st.setObject(offset + k + 1, row.get(keys(k))); k += 1 }
    }

    /** The chunk with only the LAST row per key, ordered by those last
      * occurrences: REPLACE's sequential final state. Byte-array keys
      * compare by reference, so they are wrapped value-comparable;
      * without this, two byte-equal BINARY keys in one chunk would both
      * be inserted and trip the PK, a conflict REPLACE absorbs. */
    def keepLast(chunk: Seq[Row]): Seq[Row] = {
      val byKey = new scala.collection.mutable.LinkedHashMap[Seq[Any], Row]
      chunk.foreach { row =>
        val key = keys.toSeq.map(k => row.get(k) match {
          case b: Array[Byte] => b.toSeq
          case v => v
        })
        byKey.remove(key)
        byKey.put(key, row)
      }
      byKey.values.toSeq
    }
  }

  /** Distributed load: one connection per partition. `connectionFactory`
    * must be serializable (typically a case class holding url/props). A
    * failed partition is rolled back before its connection closes, so
    * the batch's own error surfaces (some drivers refuse to close a
    * connection with an open transaction); errors from the rollback or
    * the close ride along as suppressed exceptions.
    *
    * For the keyed dialects, `df` must be partitioned on `keyColumns`
    * (`repartition(n, keyCols…)`) so that no two concurrent partitions
    * write one key; inserting first does not lift this. An INSERT that
    * meets another task's uncommitted row with its key waits on that
    * row's lock, and a fallback DELETE against such rows can close a
    * lock cycle: an unkeyed 1M-row PA load deadlocked in Derby on every
    * try on 4 cores (`perfbench/README.md`, "Known defect"). */
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

package graft.control

import java.sql.Connection

/** JDBC-backed control plane (SURVEY.md §2.9/§2.10 — the reference's
  * DB-row coordination, re-expressed against any JDBC engine).
  *
  * The reference serializes cluster admission through a MySQL row:
  * `SELECT MAX_LOAD_JOB_COUNT, RUNNING_LOAD_JOB_COUNT ... FOR UPDATE`,
  * an allocation decision, then `UPDATE ... SET RUNNING_LOAD_JOB_COUNT
  * = RUNNING_LOAD_JOB_COUNT + n` in the same transaction
  * (`/root/reference/src/AnalyzeWaitOrLoadClusterLambda/index.py:74-118`).
  * The row lock IS the semaphore: concurrent deciders queue on the
  * SELECT FOR UPDATE, so allocation is race-free without any
  * distributed-lock service. [[JdbcClusterSemaphore]] implements that
  * protocol verbatim; [[Admission]] stays the in-process model of the
  * FIFO wait rule the same lambda family applies to execution start
  * order.
  */
object JdbcControlPlane {

  sealed trait Decision
  /** No capacity (or not enough for the whole opco batch) — poll again. */
  case object Wait extends Decision
  /** Proceed with `allocated` concurrent load jobs (capacity reserved). */
  final case class Load(allocated: Int) extends Decision

  /** The reference's allocation rule, pure
    * (`AnalyzeWaitOrLoadClusterLambda/index.py:88-114`): all-or-nothing
    * below the concurrency cap — a batch only starts when EVERY job in
    * it can run (partial starts would strand opcos mid-batch), capped
    * at `maxConcurrency` when the batch is larger than the cap. */
  def allocate(available: Int, required: Int, maxConcurrency: Int): Int =
    if (available <= 0) 0
    else if (available >= maxConcurrency) math.min(required, maxConcurrency)
    else if (available >= required) required
    else 0

  /** Per-cluster admission semaphore backed by one DB row per cluster:
    * `(cluster_id, max_count, running_count)`. */
  final class JdbcClusterSemaphore(connFactory: () => Connection, table: String = "CLUSTER_LOAD_JOBS") {

    private val ident = "[A-Za-z_][A-Za-z0-9_$]*".r
    require(ident.matches(table), s"invalid SQL identifier: '$table'")

    def createTable(): Unit = withConn { conn =>
      val st = conn.createStatement()
      try st.executeUpdate(
        s"CREATE TABLE $table (cluster_id VARCHAR(64) PRIMARY KEY, " +
          "max_count INT NOT NULL, running_count INT NOT NULL)")
      finally st.close()
    }

    def register(cluster: String, maxCount: Int): Unit = withConn { conn =>
      val st = conn.prepareStatement(
        s"INSERT INTO $table (cluster_id, max_count, running_count) VALUES (?, ?, 0)")
      try { st.setString(1, cluster); st.setInt(2, maxCount); st.executeUpdate(); () }
      finally st.close()
    }

    /** One transaction: lock the cluster row (SELECT FOR UPDATE — a
      * concurrent decider blocks here until commit), decide, reserve.
      * Capacity is RESERVED on Load: the running count is already
      * incremented when this returns, so a crash between acquire and
      * job start leaks capacity only until [[release]] — the same
      * at-least-once accounting the reference accepts. */
    def acquire(cluster: String, required: Int, maxConcurrency: Int): Decision =
      withConn { conn =>
        conn.setAutoCommit(false)
        conn.setTransactionIsolation(Connection.TRANSACTION_READ_COMMITTED)
        // Exclusive row lock via a self-assignment UPDATE — the portable
        // spelling of the reference's SELECT ... FOR UPDATE: Derby
        // downgrades FOR UPDATE on a read-only cursor to a plain read
        // (all racers would then see the same snapshot and
        // oversubscribe); a write statement takes the X lock on every
        // engine, and the lock holds until commit.
        addRunning(conn, cluster, 0)
        val sel = conn.prepareStatement(
          s"SELECT max_count, running_count FROM $table WHERE cluster_id = ?")
        try {
          sel.setString(1, cluster)
          val rs = sel.executeQuery()
          require(rs.next(), s"cluster '$cluster' not registered")
          val available = rs.getInt(1) - rs.getInt(2)
          rs.close()
          val allocated = allocate(available, required, maxConcurrency)
          if (allocated > 0) addRunning(conn, cluster, allocated)
          conn.commit()
          if (allocated > 0) Load(allocated) else Wait
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally sel.close()
      }

    /** Return capacity once the allocated jobs finish (the reference's
      * post-load decrement — same UPDATE with a negative delta). */
    def release(cluster: String, n: Int): Unit = withConn { conn =>
      conn.setAutoCommit(false)
      try { addRunning(conn, cluster, -n); conn.commit() }
      catch { case e: Throwable => conn.rollback(); throw e }
    }

    def running(cluster: String): Int = withConn { conn =>
      val st = conn.prepareStatement(
        s"SELECT running_count FROM $table WHERE cluster_id = ?")
      try {
        st.setString(1, cluster)
        val rs = st.executeQuery()
        require(rs.next(), s"cluster '$cluster' not registered")
        val n = rs.getInt(1)
        rs.close()
        n
      } finally st.close()
    }

    private def addRunning(conn: Connection, cluster: String, delta: Int): Unit = {
      val st = conn.prepareStatement(
        s"UPDATE $table SET running_count = running_count + ? WHERE cluster_id = ?")
      try { st.setInt(1, delta); st.setString(2, cluster); st.executeUpdate(); () }
      finally st.close()
    }

    private def withConn[T](body: Connection => T): T = {
      val conn = connFactory()
      try body(conn) finally conn.close()
    }
  }

  /** [[TableRouter.Store]] backed by DB metadata — the reference's
    * actual lookups (`/root/reference/src/price_zone/load_job.py:
    * 252-303`: table-name registry, COUNT-based emptiness probe, the
    * full-export-in-progress status row). One registry row per opco;
    * emptiness probes the routed table itself, so the store works
    * against whatever tables the loader actually writes. The
    * soft-validation level is a constructor setting (an SSM parameter
    * in the reference — deployment config, not DB state). */
  final class JdbcRouterStore(
      connFactory: () => Connection,
      metaTable: String = "OPCO_TABLE_META",
      override val softValidationLevel: Int = 0) extends TableRouter.Store {

    private val ident = "[A-Za-z_][A-Za-z0-9_$]*".r
    require(ident.matches(metaTable), s"invalid SQL identifier: '$metaTable'")

    def createTable(): Unit = withConn { conn =>
      val st = conn.createStatement()
      try st.executeUpdate(
        s"CREATE TABLE $metaTable (opco VARCHAR(16) PRIMARY KEY, " +
          "active_table VARCHAR(128) NOT NULL, future_table VARCHAR(128) NOT NULL, " +
          "full_export_in_progress SMALLINT NOT NULL)")
      finally st.close()
    }

    def register(opco: String, active: String, future: String,
        fullExport: Boolean = false): Unit = withConn { conn =>
      val st = conn.prepareStatement(
        s"INSERT INTO $metaTable VALUES (?, ?, ?, ?)")
      try {
        st.setString(1, opco); st.setString(2, active)
        st.setString(3, future); st.setInt(4, if (fullExport) 1 else 0)
        st.executeUpdate(); ()
      } finally st.close()
    }

    def setFullExport(opco: String, inProgress: Boolean): Unit = withConn { conn =>
      val st = conn.prepareStatement(
        s"UPDATE $metaTable SET full_export_in_progress = ? WHERE opco = ?")
      try { st.setInt(1, if (inProgress) 1 else 0); st.setString(2, opco); st.executeUpdate(); () }
      finally st.close()
    }

    private def metaRow(opco: String): (String, String, Boolean) = withConn { conn =>
      val st = conn.prepareStatement(
        s"SELECT active_table, future_table, full_export_in_progress " +
          s"FROM $metaTable WHERE opco = ?")
      try {
        st.setString(1, opco)
        val rs = st.executeQuery()
        require(rs.next(), s"opco '$opco' not registered")
        val out = (rs.getString(1), rs.getString(2), rs.getInt(3) != 0)
        rs.close()
        out
      } finally st.close()
    }

    override def activeTable(opco: String): String = metaRow(opco)._1
    override def futureTable(opco: String): String = metaRow(opco)._2
    override def fullExportInProgress(opco: String): Boolean = metaRow(opco)._3

    /** One-row probe against the ROUTED table (a name from the registry,
      * not caller input — still identifier-validated before splicing):
      * the table is empty when `SELECT 1` returns no row. `setMaxRows(1)`
      * lets the database stop at the first row instead of counting a
      * table that may hold millions. */
    override def isEmpty(opco: String, table: String): Boolean = withConn { conn =>
      require(ident.matches(table), s"invalid SQL identifier: '$table'")
      val st = conn.createStatement()
      try {
        st.setMaxRows(1)
        val rs = st.executeQuery(s"SELECT 1 FROM $table")
        try !rs.next() finally rs.close()
      } finally st.close()
    }

    private def withConn[T](body: Connection => T): T = {
      val conn = connFactory()
      try body(conn) finally conn.close()
    }
  }

  /** [[Notifier.StatusStore]] persisted to a DB row per run, keyed by
    * (file_name, etl_timestamp) — the reference's etl_status table
    * write, here an idempotent upsert (a Step-Function retry of the
    * notifier must not duplicate the status row). */
  final class JdbcStatusStore(connFactory: () => Connection, table: String = "ETL_STATUS")
      extends Notifier.StatusStore {

    private val ident = "[A-Za-z_][A-Za-z0-9_$]*".r
    require(ident.matches(table), s"invalid SQL identifier: '$table'")

    def createTable(): Unit = {
      val conn = connFactory()
      try {
        val st = conn.createStatement()
        try st.executeUpdate(
          s"CREATE TABLE $table (file_name VARCHAR(256) NOT NULL, " +
            "etl_timestamp VARCHAR(64) NOT NULL, status VARCHAR(32) NOT NULL, " +
            "failed_opcos VARCHAR(1024) NOT NULL, total_records BIGINT NOT NULL, " +
            "invalid_records BIGINT NOT NULL, " +
            "PRIMARY KEY (file_name, etl_timestamp))")
        finally st.close()
      } finally conn.close()
    }

    override def finalizeRun(ctx: Notifier.RunContext, status: Completion.Status,
        failedOpcos: Seq[String], totalRecords: Long, invalidRecords: Long): Unit = {
      val conn = connFactory()
      try {
        conn.setAutoCommit(false)
        // portable upsert: UPDATE, INSERT only on a 0-row miss (same
        // shape as the sink's UpdateThenInsert dialect, single-row)
        val upd = conn.prepareStatement(
          s"UPDATE $table SET status = ?, failed_opcos = ?, total_records = ?, " +
            "invalid_records = ? WHERE file_name = ? AND etl_timestamp = ?")
        try {
          upd.setString(1, status.toString)
          upd.setString(2, failedOpcos.mkString(","))
          upd.setLong(3, totalRecords)
          upd.setLong(4, invalidRecords)
          upd.setString(5, ctx.fileName)
          upd.setString(6, ctx.etlTimestamp)
          if (upd.executeUpdate() == 0) {
            val ins = conn.prepareStatement(
              s"INSERT INTO $table (file_name, etl_timestamp, status, failed_opcos, " +
                "total_records, invalid_records) VALUES (?, ?, ?, ?, ?, ?)")
            try {
              ins.setString(1, ctx.fileName)
              ins.setString(2, ctx.etlTimestamp)
              ins.setString(3, status.toString)
              ins.setString(4, failedOpcos.mkString(","))
              ins.setLong(5, totalRecords)
              ins.setLong(6, invalidRecords)
              ins.executeUpdate()
            } finally ins.close()
          }
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally upd.close()
      } finally conn.close()
    }

    def read(fileName: String, etlTimestamp: String): Option[(String, String, Long, Long)] = {
      val conn = connFactory()
      try {
        val st = conn.prepareStatement(
          s"SELECT status, failed_opcos, total_records, invalid_records " +
            s"FROM $table WHERE file_name = ? AND etl_timestamp = ?")
        try {
          st.setString(1, fileName)
          st.setString(2, etlTimestamp)
          val rs = st.executeQuery()
          val out = if (rs.next())
            Some((rs.getString(1), rs.getString(2), rs.getLong(3), rs.getLong(4)))
          else None
          rs.close()
          out
        } finally st.close()
      } finally conn.close()
    }
  }
}

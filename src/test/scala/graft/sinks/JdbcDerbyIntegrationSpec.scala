package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}
import graft.SparkSpec

/** S6 against a REAL SQL engine (VERDICT r2 item 4): embedded Derby —
  * shipped with the Spark distribution — executes the sink's
  * DeleteThenInsert dialect end-to-end: DDL with a primary key,
  * replace-on-PK-conflict, batch flush at batchSize boundaries,
  * in-chunk duplicate keys, partition retry idempotency, and the
  * distributed foreachPartition path. Mirrors the reference's
  * `LOAD DATA ... REPLACE INTO TABLE` contract
  * (`/root/reference/src/price_zone/load_job.py:74-128`) on an engine
  * the sandbox can actually run.
  */
object DerbyDb {
  System.setProperty("derby.system.home",
    java.nio.file.Files.createTempDirectory("derby_home").toString)
  val url = "jdbc:derby:memory:graftdb;create=true"
  def conn(): Connection = DriverManager.getConnection(url)
}

/** A real connection behind a proxy that logs what the sink sends:
  * `batches` has one entry per executed batch, `"<VERB> <rows the
  * driver reported>"` or `"<VERB> failed"`; `calls` has the savepoint
  * calls and commits in order; `prepared` the SQL of every statement. */
final class CountingJdbc(real: Connection) {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  val batches = scala.collection.mutable.ArrayBuffer[String]()
  val calls = scala.collection.mutable.ArrayBuffer[String]()
  val prepared = scala.collection.mutable.ArrayBuffer[String]()

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h).asInstanceOf[T]

  private def counted(sql: String, st: PreparedStatement): PreparedStatement = {
    val verb = sql.takeWhile(_ != ' ')
    proxy(classOf[PreparedStatement], (_: Any, m: Method, args: Array[AnyRef]) =>
      if (m.getName != "executeBatch") invoke(st, m, args)
      else {
        try {
          val counts = st.executeBatch()
          batches += s"$verb ${counts.sum}"
          counts
        } catch { case e: SQLException => batches += s"$verb failed"; throw e }
      })
  }

  val conn: Connection = proxy(classOf[Connection], (_: Any, m: Method, args: Array[AnyRef]) =>
    m.getName match {
      case "prepareStatement" =>
        prepared += args(0).toString
        counted(args(0).toString, invoke(real, m, args).asInstanceOf[PreparedStatement])
      case "setSavepoint" | "releaseSavepoint" | "commit" =>
        calls += m.getName
        invoke(real, m, args)
      case "rollback" =>
        calls += (if (args == null) "rollback" else "rollback(savepoint)")
        invoke(real, m, args)
      case _ => invoke(real, m, args)
    })
}

/** Serializable connection factory for the distributed write test. */
class DerbyConnFactory extends (() => Connection) with Serializable {
  override def apply(): Connection = DerbyDb.conn()
}

class JdbcDerbyIntegrationSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(table: String, batchSize: Int = 1000) = JdbcReplaceSink.Config(
    table = table,
    columns = Seq("supc", "customer_id", "price_zone"),
    auditColumns = Seq("arrived_time" -> "2024-06-01 00:00:00"),
    batchSize = batchSize,
    dialect = JdbcReplaceSink.DeleteThenInsert,
    keyColumns = Seq("supc", "customer_id"))

  private def createTable(c: Connection, table: String): Unit = {
    val st = c.createStatement()
    st.execute(
      s"""CREATE TABLE $table (
         |  supc INT NOT NULL, customer_id INT NOT NULL, price_zone INT,
         |  arrived_time VARCHAR(32),
         |  PRIMARY KEY (supc, customer_id))""".stripMargin)
    st.close()
  }

  private def dump(c: Connection, table: String): Map[(Int, Int), (Int, String)] = {
    val st = c.createStatement()
    val rs = st.executeQuery(s"SELECT supc, customer_id, price_zone, arrived_time FROM $table")
    val b = Map.newBuilder[(Int, Int), (Int, String)]
    while (rs.next()) b += ((rs.getInt(1), rs.getInt(2)) -> ((rs.getInt(3), rs.getString(4))))
    rs.close(); st.close()
    // writePartition leaves the caller-owned connection in manual-commit
    // mode; end the read txn so close() succeeds
    if (!c.getAutoCommit) c.commit()
    b.result()
  }

  private def rows(data: Seq[(Int, Int, Int)]) =
    data.toDF("supc", "customer_id", "price_zone").collect().iterator

  test("replace-on-PK-conflict: existing keys are overwritten, new keys inserted") {
    val c = DerbyDb.conn()
    createTable(c, "pz_conflict")
    val st = c.createStatement()
    st.execute("INSERT INTO pz_conflict VALUES (1, 10, 111, 'old'), (2, 20, 222, 'old')")
    st.close()

    val n = JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 999), (3, 30, 333))), c, cfg("pz_conflict"))
    assert(n === 2)
    assert(dump(c, "pz_conflict") === Map(
      (1, 10) -> ((999, "2024-06-01 00:00:00")),   // replaced
      (2, 20) -> ((222, "old")),                   // untouched
      (3, 30) -> ((333, "2024-06-01 00:00:00")))) // inserted
    c.close()
  }

  test("batch flush at batchSize boundaries writes every row") {
    val c = DerbyDb.conn()
    createTable(c, "pz_batch")
    val data = (1 to 7).map(i => (i, i * 10, i * 100))
    val n = JdbcReplaceSink.writePartition(rows(data), c, cfg("pz_batch", batchSize = 3))
    assert(n === 7)
    val state = dump(c, "pz_batch")
    assert(state.size === 7)
    assert(state((4, 40))._1 === 400)
    c.close()
  }

  test("partition retry replays to the same end state (idempotent)") {
    val c = DerbyDb.conn()
    createTable(c, "pz_retry")
    val data = Seq((1, 10, 100), (2, 20, 200), (3, 30, 300))
    JdbcReplaceSink.writePartition(rows(data), c, cfg("pz_retry", batchSize = 2))
    val first = dump(c, "pz_retry")
    // simulated task retry: same partition content again
    JdbcReplaceSink.writePartition(rows(data), c, cfg("pz_retry", batchSize = 2))
    assert(dump(c, "pz_retry") === first)
    assert(first.size === 3)
    c.close()
  }

  test("duplicate key within one chunk keeps the LAST occurrence (REPLACE order)") {
    val c = DerbyDb.conn()
    createTable(c, "pz_dup")
    val data = Seq((1, 10, 100), (2, 20, 200), (1, 10, 999))
    JdbcReplaceSink.writePartition(rows(data), c, cfg("pz_dup", batchSize = 10))
    assert(dump(c, "pz_dup")((1, 10))._1 === 999)
    // and across chunks: a later chunk's row replaces an earlier chunk's
    val data2 = Seq((2, 20, 201), (3, 30, 300), (2, 20, 555))
    JdbcReplaceSink.writePartition(rows(data2), c, cfg("pz_dup", batchSize = 2))
    assert(dump(c, "pz_dup")((2, 20))._1 === 555)
    c.close()
  }

  test("distributed write: foreachPartition loads through real connections") {
    val c = DerbyDb.conn()
    createTable(c, "pz_dist")
    c.close()
    val df = (1 to 50).map(i => (i, i, i * 2)).toDF("supc", "customer_id", "price_zone")
      .repartition(4)
    JdbcReplaceSink.write(df, cfg("pz_dist", batchSize = 8), new DerbyConnFactory)
    val c2 = DerbyDb.conn()
    val state = dump(c2, "pz_dist")
    assert(state.size === 50)
    assert(state((17, 17))._1 === 34)
    c2.close()
  }

  test("distributed write: a failed batch surfaces its own error, not the close") {
    val c = DerbyDb.conn()
    c.createStatement().execute(
      """CREATE TABLE pz_notnull (
        |  supc INT NOT NULL, customer_id INT NOT NULL, price_zone INT NOT NULL,
        |  arrived_time VARCHAR(32),
        |  PRIMARY KEY (supc, customer_id))""".stripMargin)
    c.close()
    val df = Seq((1, 1, Option(5)), (2, 2, Option.empty[Int]))
      .toDF("supc", "customer_id", "price_zone").coalesce(1)
    val e = intercept[Exception] {
      JdbcReplaceSink.write(df, cfg("pz_notnull"), new DerbyConnFactory)
    }
    def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
    val messages = chain(e).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("cannot accept a NULL value"), messages)
    assert(!messages.contains("transaction is still active"), messages)
    // the rollback left nothing behind
    val c2 = DerbyDb.conn()
    assert(dump(c2, "pz_notnull").isEmpty)
    c2.close()
  }

  test("binary key column: replace + in-chunk dedup bind real byte arrays") {
    // The DELETE must bind the ORIGINAL Array[Byte] (setObject cannot
    // bind the comparable-wrapped Seq the dedup map keys on).
    val c = DerbyDb.conn()
    val st = c.createStatement()
    st.execute(
      """CREATE TABLE pz_bin (
        |  doc_hash VARCHAR(16) FOR BIT DATA NOT NULL, price_zone INT,
        |  arrived_time VARCHAR(32), PRIMARY KEY (doc_hash))""".stripMargin)
    st.close()
    val binCfg = JdbcReplaceSink.Config(
      table = "pz_bin",
      columns = Seq("doc_hash", "price_zone"),
      auditColumns = Seq("arrived_time" -> "2024-06-01 00:00:00"),
      batchSize = 10,
      dialect = JdbcReplaceSink.DeleteThenInsert,
      keyColumns = Seq("doc_hash"))
    def key(s: String): Array[Byte] = s.getBytes("UTF-8")
    // two byte-EQUAL keys (distinct array instances) in one chunk: the
    // dedup must keep the last, and the pre-existing row must be replaced
    val pre = c.prepareStatement("INSERT INTO pz_bin VALUES (?, ?, ?)")
    pre.setObject(1, key("k1")); pre.setInt(2, 111); pre.setString(3, "old")
    pre.executeUpdate(); pre.close()
    val data = Seq((key("k1"), 100), (key("k2"), 200), (key("k1"), 999))
      .toDF("doc_hash", "price_zone").collect().iterator
    val n = JdbcReplaceSink.writePartition(data, c, binCfg)
    assert(n === 3)
    val rs = c.createStatement().executeQuery(
      "SELECT doc_hash, price_zone, arrived_time FROM pz_bin")
    val out = scala.collection.mutable.Map[String, (Int, String)]()
    while (rs.next()) {
      out(new String(rs.getBytes(1), "UTF-8")) = (rs.getInt(2), rs.getString(3))
    }
    rs.close()
    if (!c.getAutoCommit) c.commit()
    assert(out === Map(
      "k1" -> ((999, "2024-06-01 00:00:00")),
      "k2" -> ((200, "2024-06-01 00:00:00"))))
    c.close()
  }

  test("statement builders emit valid ANSI for the delete/insert dialect") {
    val k = cfg("pz_sql")
    assert(JdbcReplaceSink.deleteSql(k) ===
      "DELETE FROM pz_sql WHERE supc = ? AND customer_id = ?")
    assert(JdbcReplaceSink.insertSql(k) ===
      "INSERT INTO pz_sql (supc, customer_id, price_zone, arrived_time) VALUES (?, ?, ?, ?)")
    // config validation: DeleteThenInsert without keys is rejected
    intercept[IllegalArgumentException] {
      JdbcReplaceSink.Config("t", Seq("a"), dialect = JdbcReplaceSink.DeleteThenInsert)
    }
  }

  test("insert-first: a load into an empty table prepares and runs INSERT only") {
    val c = DerbyDb.conn()
    createTable(c, "pz_fresh")
    val rec = new CountingJdbc(c)
    val n = JdbcReplaceSink.writePartition(
      rows((1 to 5).map(i => (i, i * 10, i))), rec.conn, cfg("pz_fresh", batchSize = 2))
    assert(n === 5)
    assert(rec.prepared.toSeq === Seq(JdbcReplaceSink.insertSql(cfg("pz_fresh"))))
    assert(rec.batches.toSeq === Seq("INSERT 2", "INSERT 2", "INSERT 1"))
    assert(rec.calls.toSeq === Seq.fill(3)(Seq("setSavepoint", "releaseSavepoint")).flatten :+ "commit")
    assert(dump(c, "pz_fresh").size === 5)
    c.close()
  }

  test("insert-first: a conflict in the second chunk keeps the first chunk and replaces the key") {
    val c = DerbyDb.conn()
    createTable(c, "pz_second")
    c.createStatement().execute("INSERT INTO pz_second VALUES (5, 50, 555, 'old')")
    val rec = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 1), (2, 20, 2), (3, 30, 3), (5, 50, 9), (6, 60, 6))),
      rec.conn, cfg("pz_second", batchSize = 2))
    // chunk 1 inserted; chunk 2 failed, rolled back, replaced; chunk 3 stays on the fallback
    assert(rec.batches.toSeq === Seq(
      "INSERT 2", "INSERT failed", "DELETE 1", "INSERT 2", "DELETE 0", "INSERT 1"))
    assert(rec.calls.count(_ == "rollback(savepoint)") === 1)
    val at = "2024-06-01 00:00:00"
    assert(dump(c, "pz_second") === Map(
      (1, 10) -> ((1, at)), (2, 20) -> ((2, at)), (3, 30) -> ((3, at)),
      (5, 50) -> ((9, at)), (6, 60) -> ((6, at))))
    c.close()
  }

  test("insert-first: a conflict on a chunk's last row leaves none of its attempted rows behind") {
    val c = DerbyDb.conn()
    createTable(c, "pz_lastrow")
    c.createStatement().execute("INSERT INTO pz_lastrow VALUES (3, 30, 333, 'old')")
    val rec = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 1), (2, 20, 2), (3, 30, 3))), rec.conn, cfg("pz_lastrow", batchSize = 3))
    // Derby ran the batch's first two INSERTs before the third failed. The
    // fallback DELETE of all three keys then finds only the old row: the
    // savepoint rollback removed the two attempted rows.
    assert(rec.batches.toSeq === Seq("INSERT failed", "DELETE 1", "INSERT 3"))
    assert(dump(c, "pz_lastrow").map { case (k, (v, _)) => k -> v } ===
      Map((1, 10) -> 1, (2, 20) -> 2, (3, 30) -> 3))
    c.close()
  }

  test("insert-first: a key repeated across two chunks of an empty table keeps the last row") {
    val c = DerbyDb.conn()
    createTable(c, "pz_spread")
    val rec = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 100), (2, 20, 200), (1, 10, 999))), rec.conn, cfg("pz_spread", batchSize = 2))
    assert(rec.batches.toSeq === Seq("INSERT 2", "INSERT failed", "DELETE 1", "INSERT 1"))
    assert(dump(c, "pz_spread").map { case (k, (v, _)) => k -> v } ===
      Map((1, 10) -> 999, (2, 20) -> 200))
    c.close()
  }

  test("insert-first: a full reload of 3 chunks fails one INSERT batch, then DELETE+INSERT each chunk") {
    val c = DerbyDb.conn()
    createTable(c, "pz_reload")
    val data = (1 to 6).map(i => (i, i * 10, i))
    JdbcReplaceSink.writePartition(rows(data), c, cfg("pz_reload", batchSize = 2))
    val rec = new CountingJdbc(c)
    val n = JdbcReplaceSink.writePartition(
      rows(data.map { case (s, k, v) => (s, k, v + 100) }), rec.conn, cfg("pz_reload", batchSize = 2))
    assert(n === 6)
    assert(rec.batches.toSeq === Seq("INSERT failed") ++ Seq.fill(3)(Seq("DELETE 2", "INSERT 2")).flatten)
    assert(rec.prepared.count(_.startsWith("DELETE")) === 1)
    assert(rec.calls.count(_ == "setSavepoint") === 1)
    assert(dump(c, "pz_reload").map { case (k, (v, _)) => k -> v } ===
      data.map { case (s, k, v) => (s, k) -> (v + 100) }.toMap)
    c.close()
  }

  test("insert-first: a NOT NULL violation fails the write with its own error, committing nothing") {
    val c = DerbyDb.conn()
    c.createStatement().execute(
      """CREATE TABLE pz_notnull2 (
        |  supc INT NOT NULL, customer_id INT NOT NULL, price_zone INT NOT NULL,
        |  arrived_time VARCHAR(32),
        |  PRIMARY KEY (supc, customer_id))""".stripMargin)
    val rec = new CountingJdbc(c)
    val data = Seq((1, 1, Option(5)), (2, 2, Option.empty[Int]))
      .toDF("supc", "customer_id", "price_zone").collect().iterator
    val e = intercept[SQLException] {
      JdbcReplaceSink.writePartition(data, rec.conn, cfg("pz_notnull2"))
    }
    def chain(t: Throwable): List[Throwable] = t match {
      case null => Nil
      case s: SQLException if s.getNextException != null => s :: chain(s.getNextException)
      case _ => t :: chain(t.getCause)
    }
    val messages = chain(e).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("cannot accept a NULL value"), messages)
    // class 23 sends the chunk to the fallback, whose INSERT fails the same way
    assert(rec.batches.toSeq === Seq("INSERT failed", "DELETE 0", "INSERT failed"))
    assert(!rec.calls.contains("commit"))
    c.rollback()
    assert(dump(c, "pz_notnull2").isEmpty)
    c.close()
  }

  test("insert-first: replaying a committed partition gives the same end state") {
    val c = DerbyDb.conn()
    createTable(c, "pz_replay")
    val data = Seq((1, 10, 100), (2, 20, 200), (3, 30, 300), (2, 20, 222))
    val first = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(rows(data), first.conn, cfg("pz_replay", batchSize = 2))
    val committed = dump(c, "pz_replay")
    val replay = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(rows(data), replay.conn, cfg("pz_replay", batchSize = 2))
    assert(dump(c, "pz_replay") === committed)
    assert(committed.map { case (k, (v, _)) => k -> v } ===
      Map((1, 10) -> 100, (2, 20) -> 222, (3, 30) -> 300))
    assert(first.batches.toSeq === Seq("INSERT 2", "INSERT failed", "DELETE 1", "INSERT 2"))
    assert(replay.batches.toSeq === Seq("INSERT failed", "DELETE 2", "INSERT 2", "DELETE 2", "INSERT 2"))
    c.close()
  }
}

package graft.sinks

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{BatchUpdateException, Connection, DatabaseMetaData, PreparedStatement, SQLException, Savepoint}
import java.util.concurrent.ConcurrentLinkedQueue
import graft.SparkSpec

/** Sink logic verified against recording java.sql proxies — no database
  * needed; the JDBC surface is the contract.
  */
object RecordingJdbc {
  val events = new ConcurrentLinkedQueue[String]()
  val boundRows = new ConcurrentLinkedQueue[Seq[Any]]()

  /** `savepoints` is what the driver's metadata reports; `insertError`,
    * when given, is thrown by the first INSERT batch executed. */
  def connection(
      savepoints: Boolean = true, insertError: Option[SQLException] = None): Connection = {
    val current = new java.util.concurrent.atomic.AtomicReference[Array[Any]](null)
    val pendingError = new java.util.concurrent.atomic.AtomicReference(insertError.orNull)

    def stmtHandler(sql: String): InvocationHandler = (_: Any, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "setObject" =>
          val slot = args(0).asInstanceOf[Integer] - 1
          if (current.get() == null) current.set(new Array[Any](16))
          current.get()(slot) = args(1)
          null
        case "addBatch" =>
          boundRows.add(current.get().takeWhile(_ != null).toSeq)
          current.set(null)
          events.add("addBatch"); null
        case "executeBatch" =>
          events.add("executeBatch")
          val e = if (sql.startsWith("INSERT")) pendingError.getAndSet(null) else null
          if (e != null) throw e
          Array.emptyIntArray
        case "clearBatch" => events.add("clearBatch"); null
        case "close" => events.add("stmt.close"); null
        case _ => null
      }

    val metaHandler: InvocationHandler = (_: Any, m: Method, _: Array[AnyRef]) =>
      m.getName match {
        case "supportsSavepoints" =>
          events.add("supportsSavepoints"); java.lang.Boolean.valueOf(savepoints)
        case _ => null
      }

    lazy val connHandler: InvocationHandler = (_: Any, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "prepareStatement" =>
          events.add(s"prepare:${args(0)}")
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[PreparedStatement]), stmtHandler(args(0).toString))
        case "getMetaData" =>
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[DatabaseMetaData]), metaHandler)
        case "setSavepoint" =>
          events.add("setSavepoint")
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[Savepoint]), (_: Any, _: Method, _: Array[AnyRef]) => null)
        case "releaseSavepoint" => events.add("releaseSavepoint"); null
        case "rollback" if args != null => events.add("rollback(savepoint)"); null
        case "setAutoCommit" => events.add("autocommit=" + args(0)); null
        case "commit" => events.add("commit"); null
        case "close" => events.add("conn.close"); null
        case "isClosed" => java.lang.Boolean.FALSE
        case _ => null
      }

    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[Connection]), connHandler).asInstanceOf[Connection]
  }

  def reset(): Unit = { events.clear(); boundRows.clear() }
}

class JdbcReplaceSinkSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private val cfg = JdbcReplaceSink.Config(
    table = "REF_PRICE_019.PRICE_ZONE_01",
    columns = Seq("supc", "customer_id", "price_zone"),
    auditColumns = Seq("ARRIVED_TIME" -> "1596630645", "FILE_SOURCE" -> "s3://in/f.csv"),
    batchSize = 2)

  test("replaceSql renders data + audit columns positionally") {
    assert(JdbcReplaceSink.replaceSql(cfg) ===
      "REPLACE INTO `REF_PRICE_019`.`PRICE_ZONE_01` " +
        "(`supc`, `customer_id`, `price_zone`, `ARRIVED_TIME`, `FILE_SOURCE`) VALUES (?, ?, ?, ?, ?)")
  }

  test("replaceSql rejects injectable identifiers") {
    val bad = cfg.copy(table = "t; DROP TABLE x")
    intercept[IllegalArgumentException](JdbcReplaceSink.replaceSql(bad))
    val badCol = cfg.copy(columns = Seq("supc", "a`b"))
    intercept[IllegalArgumentException](JdbcReplaceSink.replaceSql(badCol))
  }

  test("writePartition batches, binds audit values, commits once") {
    RecordingJdbc.reset()
    val rows = Seq(("1234567", "104612", 5), ("7654321", "104613", 4), ("1111111", "104614", 3))
      .toDF("supc", "customer_id", "price_zone").collect().iterator
    val n = JdbcReplaceSink.writePartition(rows, RecordingJdbc.connection(), cfg)
    assert(n === 3L)
    val ev = RecordingJdbc.events.asScala.toSeq
    assert(ev.count(_ == "executeBatch") === 2) // batchSize 2 → 2+1
    assert(ev.count(_ == "commit") === 1)
    val bound = RecordingJdbc.boundRows.asScala.toSeq
    assert(bound.forall(r => r(3) == "1596630645" && r(4) == "s3://in/f.csv"))
    assert(bound.map(_.head).toSet === Set("1234567", "7654321", "1111111"))
  }

  test("write drives foreachPartition end-to-end (local executors)") {
    RecordingJdbc.reset()
    val df = Seq(("1234567", "104612", 5), ("7654321", "104613", 4))
      .toDF("supc", "customer_id", "price_zone").repartition(2)
    JdbcReplaceSink.write(df, cfg, () => RecordingJdbc.connection())
    val ev = RecordingJdbc.events.asScala.toSeq
    assert(RecordingJdbc.boundRows.size() === 2)
    assert(ev.count(_ == "conn.close") >= 1) // one per non-empty partition
    assert(ev.count(_ == "commit") >= 1)
  }

  private val keyedCfg = cfg.copy(
    dialect = JdbcReplaceSink.DeleteThenInsert, keyColumns = Seq("supc", "customer_id"))

  private def pzRows = Seq(("1234567", "104612", 5), ("7654321", "104613", 4), ("1111111", "104614", 3))
    .toDF("supc", "customer_id", "price_zone").collect().iterator

  test("DeleteThenInsert with no conflict: one savepoint per chunk, INSERT batches only") {
    RecordingJdbc.reset()
    val n = JdbcReplaceSink.writePartition(pzRows, RecordingJdbc.connection(), keyedCfg)
    assert(n === 3L)
    val ev = RecordingJdbc.events.asScala.toSeq
    assert(ev.filter(_.startsWith("prepare:")) ===
      Seq("prepare:" + JdbcReplaceSink.insertSql(keyedCfg)))
    assert(!ev.exists(_.contains("DELETE")))
    assert(ev.count(_ == "supportsSavepoints") === 1)
    assert(ev.count(_ == "setSavepoint") === 2) // batchSize 2 → 2+1
    assert(ev.count(_ == "releaseSavepoint") === 2)
    assert(ev.count(_ == "executeBatch") === 2)
    assert(!ev.contains("rollback(savepoint)"))
    assert(ev.count(_ == "commit") === 1)
    val bound = RecordingJdbc.boundRows.asScala.toSeq
    assert(bound.map(_.take(3)) === Seq(
      Seq("1234567", "104612", 5), Seq("7654321", "104613", 4), Seq("1111111", "104614", 3)))
  }

  test("DeleteThenInsert on a driver without savepoints: DELETE then INSERT per chunk") {
    RecordingJdbc.reset()
    val n = JdbcReplaceSink.writePartition(
      pzRows, RecordingJdbc.connection(savepoints = false), keyedCfg)
    assert(n === 3L)
    val ev = RecordingJdbc.events.asScala.toSeq
    assert(!ev.contains("setSavepoint"))
    assert(ev.count(_ == "prepare:" + JdbcReplaceSink.deleteSql(keyedCfg)) === 1)
    assert(ev.count(_ == "executeBatch") === 4) // DELETE + INSERT for each of 2 chunks
    assert(ev.count(_ == "commit") === 1)
  }

  test("a key conflict reported down getNextException takes the fallback for the partition") {
    RecordingJdbc.reset()
    val batch = new BatchUpdateException("batch failed", null, 0, Array.emptyIntArray, null)
    batch.setNextException(new SQLException("duplicate key", "23505"))
    val n = JdbcReplaceSink.writePartition(
      pzRows, RecordingJdbc.connection(insertError = Some(batch)), keyedCfg)
    assert(n === 3L)
    val ev = RecordingJdbc.events.asScala.toSeq
    assert(ev.count(_ == "setSavepoint") === 1) // no savepoint once the fallback is on
    assert(ev.count(_ == "rollback(savepoint)") === 1)
    assert(ev.count(_ == "clearBatch") === 1)
    assert(ev.count(_ == "prepare:" + JdbcReplaceSink.deleteSql(keyedCfg)) === 1)
    // failed INSERT, then DELETE + INSERT for both chunks
    assert(ev.count(_ == "executeBatch") === 5)
    assert(ev.count(_ == "commit") === 1)
  }

  test("an error outside SQLState class 23 propagates without a fallback") {
    RecordingJdbc.reset()
    val deadlock = new SQLException("deadlock", "40001")
    val e = intercept[SQLException] {
      JdbcReplaceSink.writePartition(
        pzRows, RecordingJdbc.connection(insertError = Some(deadlock)), keyedCfg)
    }
    assert(e eq deadlock)
    val ev = RecordingJdbc.events.asScala.toSeq
    assert(!ev.exists(_.contains("DELETE")))
    assert(!ev.contains("rollback(savepoint)"))
    assert(!ev.contains("commit"))
  }
}

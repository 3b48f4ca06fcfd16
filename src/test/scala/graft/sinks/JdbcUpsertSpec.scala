package graft.sinks

import java.sql.Connection
import graft.SparkSpec

/** The upsert dialects (VERDICT r4 missing item 1): update-in-place on
  * key conflict, vs REPLACE's delete-then-insert. The portable
  * UpdateThenInsert path runs end-to-end on embedded Derby — including
  * the row-identity preservation REPLACE cannot offer (an identity
  * column keeps its value across refreshes); the MySQL
  * `ON DUPLICATE KEY UPDATE` statement is pinned textually (no MySQL
  * server in the sandbox — same coverage split as the REPLACE dialect).
  */
class JdbcUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(table: String, batchSize: Int = 1000) = JdbcReplaceSink.Config(
    table = table,
    columns = Seq("supc", "customer_id", "price_zone"),
    auditColumns = Seq("arrived_time" -> "2024-06-02 00:00:00"),
    batchSize = batchSize,
    dialect = JdbcReplaceSink.UpdateThenInsert,
    keyColumns = Seq("supc", "customer_id"))

  private def createTable(c: Connection, table: String): Unit = {
    val st = c.createStatement()
    // row_id: generated identity — the witness that upsert updates in
    // place (REPLACE/delete-then-insert would burn a new identity)
    st.execute(
      s"""CREATE TABLE $table (
         |  row_id INT GENERATED ALWAYS AS IDENTITY,
         |  supc INT NOT NULL, customer_id INT NOT NULL, price_zone INT,
         |  arrived_time VARCHAR(32),
         |  PRIMARY KEY (supc, customer_id))""".stripMargin)
    st.close()
  }

  private def dump(c: Connection, table: String): Map[(Int, Int), (Int, Int, String)] = {
    val st = c.createStatement()
    val rs = st.executeQuery(
      s"SELECT supc, customer_id, row_id, price_zone, arrived_time FROM $table")
    val b = Map.newBuilder[(Int, Int), (Int, Int, String)]
    while (rs.next())
      b += ((rs.getInt(1), rs.getInt(2)) -> ((rs.getInt(3), rs.getInt(4), rs.getString(5))))
    rs.close(); st.close()
    if (!c.getAutoCommit) c.commit()
    b.result()
  }

  private def rows(data: Seq[(Int, Int, Int)]) =
    data.toDF("supc", "customer_id", "price_zone").collect().iterator

  test("upsert updates conflicting rows IN PLACE and inserts new keys") {
    val c = DerbyDb.conn()
    createTable(c, "ups_basic")
    val st = c.createStatement()
    st.execute(
      "INSERT INTO ups_basic (supc, customer_id, price_zone, arrived_time) " +
        "VALUES (1, 10, 111, 'old'), (2, 20, 222, 'old')")
    st.close()
    val before = dump(c, "ups_basic")

    val n = JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 999), (3, 30, 333))), c, cfg("ups_basic"))
    assert(n === 2L)
    val after = dump(c, "ups_basic")
    // conflicting key: new values, SAME identity (updated, not re-inserted)
    assert(after((1, 10)) === ((before((1, 10))._1, 999, "2024-06-02 00:00:00")))
    // untouched key: fully intact
    assert(after((2, 20)) === before((2, 20)))
    // new key inserted
    assert(after((3, 30))._2 === 333)
    c.close()
  }

  test("upsert partition retry replays to the same end state") {
    val c = DerbyDb.conn()
    createTable(c, "ups_retry")
    val data = Seq((1, 10, 100), (2, 20, 200), (3, 30, 300))
    JdbcReplaceSink.writePartition(rows(data), c, cfg("ups_retry"))
    val first = dump(c, "ups_retry")
    JdbcReplaceSink.writePartition(rows(data), c, cfg("ups_retry"))
    // identical, identities included: the replay updated in place
    assert(dump(c, "ups_retry") === first)
    c.close()
  }

  test("in-chunk duplicate keys keep the LAST occurrence") {
    val c = DerbyDb.conn()
    createTable(c, "ups_dup")
    JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 100), (1, 10, 999))), c, cfg("ups_dup"))
    assert(dump(c, "ups_dup")((1, 10))._2 === 999)
    c.close()
  }

  test("chunked batches: update hits and insert misses split correctly") {
    val c = DerbyDb.conn()
    createTable(c, "ups_chunk")
    JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 1), (2, 20, 2))), c, cfg("ups_chunk"))
    // batchSize 2 → three chunks mixing hits and misses
    val n = JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 11), (3, 30, 3), (2, 20, 22), (4, 40, 4), (5, 50, 5))),
      c, cfg("ups_chunk", batchSize = 2))
    assert(n === 5L)
    val after = dump(c, "ups_chunk")
    assert(after.keySet === Set((1, 10), (2, 20), (3, 30), (4, 40), (5, 50)))
    assert(after((1, 10))._2 === 11 && after((2, 20))._2 === 22)
    c.close()
  }

  test("MySQL ON DUPLICATE KEY UPDATE statement: non-key columns only") {
    val sql = JdbcReplaceSink.upsertSql(cfg("pz"))
    assert(sql ===
      "INSERT INTO `pz` (`supc`, `customer_id`, `price_zone`, `arrived_time`) " +
        "VALUES (?, ?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE `price_zone` = VALUES(`price_zone`), " +
        "`arrived_time` = VALUES(`arrived_time`)")
  }

  test("config validation: upsert dialects demand keys and a non-key column") {
    intercept[IllegalArgumentException] {
      JdbcReplaceSink.Config("t", Seq("a", "b"),
        dialect = JdbcReplaceSink.MySqlUpsert) // no keyColumns
    }
    intercept[IllegalArgumentException] {
      JdbcReplaceSink.Config("t", Seq("a", "b"),
        dialect = JdbcReplaceSink.UpdateThenInsert, keyColumns = Seq("a", "b")) // nothing to SET
    }
  }

  test("insert-first: a conflict in the second chunk updates that key in place, keeps the first chunk") {
    val c = DerbyDb.conn()
    createTable(c, "ups_second")
    c.createStatement().execute(
      "INSERT INTO ups_second (supc, customer_id, price_zone, arrived_time) VALUES (5, 50, 555, 'old')")
    val before = dump(c, "ups_second")
    val rec = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(
      rows(Seq((1, 10, 1), (2, 20, 2), (3, 30, 3), (5, 50, 9), (6, 60, 6))),
      rec.conn, cfg("ups_second", batchSize = 2))
    // chunk 2's attempted (3, 30) was rolled back, so the UPDATE misses it and it is inserted
    assert(rec.batches.toSeq === Seq(
      "INSERT 2", "INSERT failed", "UPDATE 1", "INSERT 1", "UPDATE 0", "INSERT 1"))
    assert(rec.prepared.count(_.startsWith("UPDATE")) === 1)
    val after = dump(c, "ups_second")
    assert(after.map { case (k, (_, v, _)) => k -> v } ===
      Map((1, 10) -> 1, (2, 20) -> 2, (3, 30) -> 3, (5, 50) -> 9, (6, 60) -> 6))
    assert(after((5, 50)) === ((before((5, 50))._1, 9, "2024-06-02 00:00:00")))
    c.close()
  }

  test("insert-first: a full reload of 3 chunks fails one INSERT batch, then updates each chunk in place") {
    val c = DerbyDb.conn()
    createTable(c, "ups_reload")
    val data = (1 to 6).map(i => (i, i * 10, i))
    JdbcReplaceSink.writePartition(rows(data), c, cfg("ups_reload", batchSize = 2))
    val before = dump(c, "ups_reload")
    val rec = new CountingJdbc(c)
    JdbcReplaceSink.writePartition(
      rows(data.map { case (s, k, v) => (s, k, v + 100) }), rec.conn, cfg("ups_reload", batchSize = 2))
    assert(rec.batches.toSeq === Seq("INSERT failed") ++ Seq.fill(3)(Seq("UPDATE 2", "INSERT 0")).flatten)
    val after = dump(c, "ups_reload")
    assert(after.keySet === before.keySet)
    assert(after.forall { case (k, (id, v, _)) => id == before(k)._1 && v == before(k)._2 + 100 })
    c.close()
  }
}

package graft.tools

import graft.SparkSpec

/** Drives [[Dev.run]] on the shared test session over sf0.001. */
class DevSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def out(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Dev.run(spark, args))
    buf.toString("UTF-8")
  }

  test("time: three positive timings per gate") {
    val line = out("time", dir, "q1_agg").linesIterator.find(_.startsWith("q1_agg"))
    val ts = line.toSeq.flatMap(_.split("\\s+").drop(1)).map(_.toDouble)
    assert(ts.size === 3, line)
    assert(ts.forall(_ > 0.0), line)
  }

  test("explain: the formatted physical plan") {
    val o = out("explain", dir, "q1_agg")
    assert(o.contains("===== q1_agg ====="))
    assert(o.contains("Physical Plan"), o)
  }

  test("sql: runs over the sf tables and shows the result") {
    val o = out("sql", dir, "SELECT count(*) AS n FROM region")
    assert(o.linesIterator.map(_.trim).contains("|5  |"), o)
    assert(!spark.catalog.tableExists("region"), "views must not leak into the session")
  }

  test("an unknown verb fails with the usage message") {
    val e = intercept[IllegalArgumentException](Dev.run(spark, Seq("frob", dir)))
    assert(e.getMessage.contains(Dev.usage))
  }

  test("an unknown gate fails with an error that names it") {
    Seq("time", "explain").foreach { verb =>
      val e = intercept[IllegalArgumentException](
        Dev.run(spark, Seq(verb, dir, "q1_agg", "no_such_gate")))
      assert(e.getMessage.contains("no_such_gate"), e.getMessage)
    }
  }
}

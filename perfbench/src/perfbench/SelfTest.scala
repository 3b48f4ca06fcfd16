package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.io.Source

/** Tiny-size self-test of the generator and of the checks in [[Pass]]
  * and [[Gates]]:
  * the generator is deterministic and its counts match its files, a
  * correct run passes every check, and each deliberately wrong
  * expectation is caught.
  *
  * `perfbench.SelfTest --work DIR`; exits 1 on the first failed case. */
object SelfTest {
  private val failures = ArrayBuffer[String]()
  private var cases = 0

  private def expect(what: String, ok: Boolean): Unit = {
    cases += 1
    if (!ok) failures += what
  }

  def main(argv: Array[String]): Unit = {
    val work = new File(argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.head)
    Pass.derbyHome(new File(work, "derby"))
    val bulk = Shape(pzFiles = 1, paFiles = 1, rowsPerFile = 400, singleOpco = false)
    val arrivals = Shape(pzFiles = 2, paFiles = 1, rowsPerFile = 200, singleOpco = true, poisonOdds = 1)

    generator(work, bulk)
    generator(work, arrivals)
    gateChecks()

    val spark = Main.session(2, new File(work, "spark-local"))
    val off = new Tracer(false)
    try {
      for ((shape, name) <- Seq(bulk -> "bulk", arrivals -> "arrivals")) {
        val pass = Pass.prepare(spark, work, 7L, 0, shape, 2, off)
        val results = try pass.run() finally pass.close()
        results.foreach(r => expect(s"$name ${r.file.name} passes its checks: ${r.errors}", r.errors.isEmpty))
        expect(s"$name rejects exactly the poisoned files",
          results.map(_.rejected) == results.map(_.file.rejected))
        if (name == "arrivals") expect("arrivals has a whole-file rejection", results.exists(_.rejected))
      }

      // each wrong expectation must be reported
      def mutant(label: String, kind: Kind)(change: InputFile => InputFile): Unit = {
        val pass = Pass.prepare(spark, work, 7L, 0, bulk, 2, off)
        try {
          val f = pass.files.find(_.kind == kind).get
          val r = pass.process(change(f))
          expect(s"check catches $label", r.errors.nonEmpty && r.failed > 0)
        } finally pass.close()
      }
      mutant("a wrong valid count", Pz)(f => f.copy(valid = f.valid + 1))
      mutant("a missing failed opco", Pz)(f => f.copy(failedOpcos = f.failedOpcos.tail))
      mutant("a wrong table row count", Pz)(f =>
        f.copy(tableRows = f.tableRows.updated(f.tableRows.keys.min, f.tableRows.values.min + 1)))
      mutant("a wrong violation count", Pz)(f =>
        f.copy(violations = f.violations.map { case (k, v) => k -> (v + 1) }))
      mutant("a wrong earliest effective date", Pz)(f =>
        f.copy(minEffective = f.minEffective.map { case (k, _) => k -> "1999-01-01 00:00:00" }))
      mutant("a wrong invalid-price count", Pa)(f => f.copy(invalidPrice = f.invalidPrice + 1))
      mutant("a missing whole-file rejection", Pa)(f => f.copy(rejected = true))
    } finally spark.stop()

    if (failures.isEmpty) println(s"perfbench self-test: ok ($cases checks)")
    else {
      failures.foreach(f => System.err.println(s"FAILED: $f"))
      println(s"perfbench self-test: ${failures.size} of $cases checks failed")
      sys.exit(1)
    }
  }

  /** The gate check passes a recorded count and reports anything else. */
  private def gateChecks(): Unit = {
    val want = Map("q1_agg" -> 4L)
    def errors(rows: Long, error: Option[String] = None, name: String = "q1_agg") =
      Gates.check(Seq(Gates.Outcome(name, 0.1, rows, error)), want)
    expect("gate check passes the recorded count", errors(4L).isEmpty)
    expect("gate check catches a wrong count", errors(5L).nonEmpty)
    expect("gate check catches a failed gate", errors(-1L, Some("boom")).nonEmpty)
    expect("gate check catches an unrecorded gate", errors(4L, name = "q8_window").nonEmpty)
  }

  /** Same seed, same files and expectations; the expectations agree
    * with the files' own contents. */
  private def generator(work: File, shape: Shape): Unit = {
    val a = Gen.pass(new File(work, "gen_a"), 3L, 5, shape)
    val b = Gen.pass(new File(work, "gen_b"), 3L, 5, shape)
    val c = Gen.pass(new File(work, "gen_c"), 4L, 5, shape)
    def bytes(f: InputFile) = Files.readAllBytes(new File(f.path).toPath).toSeq
    expect("same seed, same files",
      a.map(bytes) == b.map(bytes) && a.map(_.copy(path = "")) == b.map(_.copy(path = "")))
    expect("another seed, other files", a.map(bytes) != c.map(bytes))
    a.foreach { f =>
      val src = Source.fromFile(f.path, "UTF-8")
      val lines = try src.getLines().drop(1).toVector finally src.close()
      expect(s"${f.name}: row count", lines.size == f.rows)
      expect(s"${f.name}: table rows add up to the valid count", f.tableRows.values.sum == f.valid)
      f.kind match {
        case Pz =>
          val opcos = lines.map(_.split(",", -1)(0))
          expect(s"${f.name}: failed and loaded opcos partition the file",
            (f.failedOpcos ++ f.tableRows.keys).sorted == opcos.distinct.sorted)
          f.tableRows.foreach { case (o, n) =>
            expect(s"${f.name}: opco $o rows", opcos.count(_ == o) == n)
          }
          expect(s"${f.name}: membership violations are the inactive opcos' rows",
            f.violations.getOrElse("opco_id_membership", 0L) == opcos.count(Gen.Inactive))
        case Pa =>
          val prices = lines.map(_.split('|')(5).toDouble)
          expect(s"${f.name}: invalid prices", prices.count(_ <= 0) == f.invalidPrice)
      }
    }
    Seq("gen_a", "gen_b", "gen_c").foreach(d => Pass.delete(new File(work, d)))
  }
}

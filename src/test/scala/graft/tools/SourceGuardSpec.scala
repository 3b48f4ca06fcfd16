package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for the single paths the engine keeps: every
  * session comes from [[graft.BenchSupport.session]] (so a tool's number
  * is a number the bench would give), every materialization pin is made
  * and freed in [[graft.Pins]] (so `spark.graft.pin.mode` reaches it and
  * a scope frees only what it pinned), and
  * every round-carrying loop runs on [[graft.Fixpoint]] (so each round
  * is pinned and the round it replaces freed in one place), and every
  * Catalyst registration goes through [[graft.Graft.install]] (so every
  * session sees the same rules, strategies and functions). Comment
  * lines are skipped: scaladoc may show the raw calls. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `root`, 1-based line number, line) of every
    * non-comment line in `src/main/scala`. */
  private lazy val codeLines: Seq[(String, Int, String)] = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }.flatMap { (f: Path) =>
    Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if !isComment(line) => (root.relativize(f).toString, i + 1, line)
    }
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private def offenders(bad: String => Boolean, allowedFile: String): Seq[String] =
    codeLines.collect {
      case (f, n, line) if bad(line) && f != allowedFile => s"$f:$n: ${line.trim}"
    }

  private val memberDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored

  /** (file, enclosing object member) of every code line that calls
    * `pinIterative(` outside the two files that own it. */
  private lazy val iterativePins: Seq[((String, String), String)] = {
    val owner = scala.collection.mutable.Map.empty[String, String]
    codeLines.flatMap { case (f, n, line) =>
      line match {
        case memberDef(name) => owner(f) = name
        case _ =>
      }
      if (line.contains("pinIterative(") &&
          f != "graft/Pins.scala" && f != "graft/Fixpoint.scala")
        Some((f, owner.getOrElse(f, "")) -> s"$f:$n: ${line.trim}")
      else None
    }
  }

  /** Loops that keep their own rounds; each states why at the loop. */
  private val ownLoops = Set(
    "graft/operators/TpchQueries.scala" -> "q74") // keeps every round for its union

  test("the source tree is where the guards look") {
    assert(codeLines.exists(_._1 == "graft/BenchSupport.scala"))
    assert(codeLines.exists(_._1 == "graft/Pins.scala"))
  }

  test("SparkSession.builder() only in BenchSupport") {
    val hits = offenders(_.contains("SparkSession.builder()"), "graft/BenchSupport.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("localCheckpoint( and .checkpoint( only in Pins") {
    val hits = offenders(l => l.contains("localCheckpoint(") || l.contains(".checkpoint("),
      "graft/Pins.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test(".persist(, unpersist( and getPersistentRDDs only in Pins") {
    val hits = offenders(l => Seq(".persist(", "unpersist(", "getPersistentRDDs").exists(l.contains),
      "graft/Pins.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  private val registration =
    """extra(?:Optimizations|Strategies)\s*[+:]*=(?!=)|functionRegistry|registerFunction\(|createOrReplaceTempFunction\(|SparkSessionExtensions""".r

  test("rule, strategy and function registration only in Graft") {
    val hits = offenders(l => registration.findFirstIn(l).isDefined, "graft/Graft.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("pinIterative( only in Pins, Fixpoint and the named loops") {
    val hits = iterativePins.collect { case (loop, at) if !ownLoops(loop) => at }
    assert(hits.isEmpty, hits.mkString("\n"))
    val stale = ownLoops -- iterativePins.map(_._1)
    assert(stale.isEmpty, s"named loops without an iterative pin: $stale")
  }
}

package graft.control

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import org.apache.hadoop.fs.RawLocalFileSystem

/** The local file system, counting its instances: a call reaches it only
  * through a configuration that maps `fs.file.impl` to this class. */
class CountingLocalFs extends RawLocalFileSystem { CountingLocalFs.made.incrementAndGet() }
object CountingLocalFs { val made = new AtomicInteger }

/** Truth-table port of the trigger classification tests
  * (`/root/reference/test/price_zone/test_etl_trigger_lambda.py:7-37`)
  * plus completion-state-machine and archive coverage.
  */
class FileOpsSpec extends SparkSpec {

  private val partials = Seq("ctt", "itt")
  private val fulls = Seq("full_export", "monthly")

  test("prefix truth table: partial wins, then full, case-insensitive") {
    assert(FileClassifier.byPrefix("CTT_20200806.csv.gz", partials, fulls) ===
      ((true, false, Some("ctt"))))
    assert(FileClassifier.byPrefix("itt_x.csv", partials, fulls) === ((true, false, Some("itt"))))
    assert(FileClassifier.byPrefix("FULL_EXPORT_1.csv", partials, fulls) ===
      ((false, true, Some("full_export"))))
    assert(FileClassifier.byPrefix("random.csv", partials, fulls) === ((false, false, None)))
  }

  test("size fallback: above upper bound → full, otherwise partial") {
    val big = FileClassifier.classify("random.csv", 3_000_000_000L, partials, fulls, 0.5)
    assert(!big.partialLoad && big.matchedPrefix.isEmpty)
    val small = FileClassifier.classify("random.csv", 100_000_000L, partials, fulls, 0.5)
    assert(small.partialLoad)
    // prefix rules take precedence over size
    val bigButCtt = FileClassifier.classify("ctt_huge.csv", 30_000_000_000L, partials, fulls, 0.5)
    assert(bigButCtt.partialLoad)
    assert(big.sizeGb === 3_000_000_000L * 9.31 / 1e10)
  }

  test("completion: cluster reduce + cross-cluster status machine") {
    val cluster = Completion.reduceCluster(Seq("018", "019", "020"), Set("018", "019"))
    assert(cluster === Completion.ClusterResult(2, 1, Seq("018", "019"), Seq("020")))

    // other cluster fully done (3 ok of 6 total), ours has 1 failure → FAILED, no backup
    val d1 = Completion.decide(6, 3, 0, cluster)
    assert(d1.status === Completion.Failed && !d1.shouldBackup)

    // all six succeeded and we complete the set → SUCCEEDED + we back up
    val ok = Completion.reduceCluster(Seq("018", "019", "020"), Set("018", "019", "020"))
    val d2 = Completion.decide(6, 3, 0, ok)
    assert(d2.status === Completion.Succeeded && d2.shouldBackup)

    // other cluster not finished yet → RUNNING, and we must not back up
    val d3 = Completion.decide(6, 1, 0, ok)
    assert(d3.status === Completion.Running && !d3.shouldBackup)
  }

  test("archive validates count, move deletes source") {
    val src = Files.createTempDirectory("arch_src")
    val dst = Files.createTempDirectory("arch_dst").resolve("backup")
    Files.writeString(src.resolve("a.csv"), "1")
    Files.createDirectories(src.resolve("opco_id=019"))
    Files.writeString(src.resolve("opco_id=019/b.csv"), "2")

    assert(ArchiveUtil.countFiles(src.toString) === 2)
    val n = ArchiveUtil.move(src.toString, dst.toString)
    assert(n === 2)
    assert(!Files.exists(src))
    assert(ArchiveUtil.countFiles(dst.toString) === 2)
  }

  test("archive counts only the copied subtree when destination pre-exists") {
    val src = Files.createTempDirectory("arch_src2")
    val dst = Files.createTempDirectory("arch_dst2") // exists, non-empty
    Files.writeString(src.resolve("a.csv"), "1")
    Files.writeString(dst.resolve("old1.csv"), "x")
    Files.writeString(dst.resolve("old2.csv"), "y")
    // copy lands at dst/<srcName>; the two pre-existing files must not
    // count toward the validation
    val n = ArchiveUtil.archive(src.toString, dst.toString)
    assert(n === 1)
    assert(ArchiveUtil.countFiles(dst.resolve(src.getFileName.toString).toString) === 1)
  }

  test("archiving single files into one directory counts only the file just copied") {
    withTempDir("arch_files") { root =>
      val backup = mkdir(root, "backup")
      for (name <- Seq("a.csv", "b.csv")) {
        val file = Paths.get(root, name)
        Files.writeString(file, name)
        assert(ArchiveUtil.archive(file.toString, backup) === 1)
        assert(Files.readString(Paths.get(backup, name)) === name)
      }
    }
  }

  test("archive with no conf uses the session's Hadoop configuration") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(hadoop.get(k)))
    hadoop.set("fs.file.impl", classOf[CountingLocalFs].getName)
    hadoop.setBoolean("fs.file.impl.disable.cache", true)
    try withTempDir("arch_session") { root =>
      val src = mkdir(root, "src")
      Files.writeString(Paths.get(src, "a.csv"), "1")
      Files.createDirectories(Paths.get(src, "opco_id=019"))
      Files.writeString(Paths.get(src, "opco_id=019", "b.csv"), "2")
      val before = CountingLocalFs.made.get
      assert(ArchiveUtil.archive(src, s"$root/backup") === 2)
      assert(CountingLocalFs.made.get > before)
      assert(Files.readString(Paths.get(root, "backup", "opco_id=019", "b.csv")) === "2")
    } finally saved.foreach { case (k, v) => v.fold(hadoop.unset(k))(hadoop.set(k, _)) }
  }
}

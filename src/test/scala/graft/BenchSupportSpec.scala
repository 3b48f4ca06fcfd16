package graft

/** The bench warm-up leaves nothing behind: no streaming input or
  * checkpoint directory in the temp dir, no memory-sink view. */
class BenchSupportSpec extends SparkSpec {

  private def warmDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith("graft_warm_stream"))

  test("warmup deletes its streaming directories and drops its memory view") {
    val before = warmDirs()
    withTempDir("no_sf") { sf => BenchSupport.warmup(spark, sf) }
    assert(warmDirs() -- before === Set.empty[String])
    assert(!spark.catalog.tableExists("graft_warmup_stream"))
  }
}

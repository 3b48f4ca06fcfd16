package graft.control

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** S8 — archival file operations (SURVEY.md §2.1): copy-with-count
  * validation and recursive delete, the reference's post-run
  * archival/cleanup (`/root/reference/src/util/move_s3_objects.py:6-101`,
  * drivers `src/price_zone/data_backup_job.py:51-71`). Implemented on
  * the Hadoop `FileSystem` API so the same code runs against local
  * paths, HDFS, or any object-store connector on the cluster classpath.
  *
  * Without an explicit `conf`, each call uses the session's Hadoop
  * configuration, so `spark.hadoop.*` settings (credentials, connector
  * options) reach the archive step, and no call re-reads the XML
  * resources a `new Configuration()` parses. Without a session there is
  * one configuration, built on first use.
  */
object ArchiveUtil {

  private lazy val standaloneConf = new Configuration()

  private def defaultConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(standaloneConf)

  private def fs(path: Path, conf: Configuration): FileSystem = path.getFileSystem(conf)

  /** Recursive file count under a prefix (dirs excluded). */
  def countFiles(dir: String, conf: Configuration = defaultConf): Long = {
    val p = new Path(dir)
    val f = fs(p, conf)
    if (!f.exists(p)) 0L
    else {
      val it = f.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
  }

  /** Copy a prefix tree and validate the destination file count matches
    * the source (the reference's copy-validation contract,
    * `move_s3_objects.py:33-58`). Throws on mismatch. Counts only the
    * copied file or subtree — Hadoop's `FileUtil.copy` lands a file or
    * a tree at `dst/<srcName>` when `dst` already exists as a directory,
    * and at `dst` otherwise — so files archived there before can never
    * mask a partial copy, and no call lists the rest of `dst`. */
  def archive(srcDir: String, dstDir: String, conf: Configuration = defaultConf): Long = {
    val src = new Path(srcDir)
    val dst = new Path(dstDir)
    val sfs = fs(src, conf)
    val dfs = fs(dst, conf)
    val expected = countFiles(srcDir, conf)
    val copyRoot =
      if (dfs.exists(dst) && dfs.getFileStatus(dst).isDirectory) new Path(dst, src.getName)
      else dst
    FileUtil.copy(sfs, src, dfs, dst, false, true, conf)
    val copied = countFiles(copyRoot.toString, conf)
    if (copied < expected)
      throw new IllegalStateException(
        s"archive validation failed: copied $copied of $expected files from $srcDir to $copyRoot")
    copied
  }

  /** Recursive delete (`move_s3_objects.py:61-101`). */
  def deleteRecursively(dir: String, conf: Configuration = defaultConf): Boolean = {
    val p = new Path(dir)
    val f = fs(p, conf)
    !f.exists(p) || f.delete(p, true)
  }

  /** Move = archive + delete source, the backup job's composition
    * (`data_backup_job.py:51-71`). */
  def move(srcDir: String, dstDir: String, conf: Configuration = defaultConf): Long = {
    val n = archive(srcDir, dstDir, conf)
    deleteRecursively(srcDir, conf)
    n
  }
}

package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.DataSource

/** Bridge to `DataSource.checkAndGlobPathIfNecessary`, `private[sql]`:
  * the file reader's own glob expansion and existence check, so a path
  * that [[graft.sources.CsvSources]] lists on the driver resolves, and
  * fails (`PATH_NOT_FOUND`), exactly as the reader's `load` would. */
object GraftSourceBridge {
  def globbedPaths(path: String, hadoopConf: Configuration): Seq[Path] =
    DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
}

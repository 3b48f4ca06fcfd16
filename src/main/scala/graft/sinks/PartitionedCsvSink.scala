package graft.sinks

import java.io.IOException
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString

/** S4/S5 — Hive-style partitioned CSV write, quoting disabled, header on
  * (SURVEY.md §2.1). The reference writes `opco_id=NNN/` directories with
  * `quoteChar: -1`
  * (`/root/reference/src/price_zone/transform_spark_job.py:107-111`), and
  * the PA pipeline's pandas groupby→to_csv per opco
  * (`/root/reference/src/pa/pa_etl_script.py:122-126,285-296`) is exactly
  * the same partitioned write — the partition column is elided from file
  * contents, matching PA's `del final_df['opco_id']`.
  *
  * Scale notes: `partitionBy` is a shuffle-free write when upstream is
  * already keyed; `maxRecordsPerFile` bounds file size at 100 TB so a
  * hot partition can't produce a monolithic file. Callers that need one
  * file per group can `repartition(groupCols…)` first (one shuffle, then
  * fully parallel writes).
  */
object PartitionedCsvSink {

  def write(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L,
      /** One shuffle keyed on the partition columns before the write:
        * yields one file per group (the reference's S5 one-CSV-per-opco
        * contract) instead of files-per-task-per-group; leave false for
        * maximum write parallelism. */
      singleFilePerGroup: Boolean = false): Unit = {
    val out =
      if (singleFilePerGroup)
        df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    out.write
      .partitionBy(partitionCols: _*)
      .option("header", "true")
      // emptyValue "" keeps empty strings distinguishable from the quote
      // default; quoting off matches the reference's quoteChar: -1.
      .option("quoteAll", "false")
      .option("emptyValue", "")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .csv(path)
  }

  /** One write job for several targets: `df` is written partitioned by
    * `routeCol` then `partitionCols` into a hidden `_graft_staging_<uuid>`
    * directory in the targets' common parent, and each `routeCol=<id>`
    * subtree is moved to `targets(id)` (a rename on local and HDFS
    * storage, a copy on object stores), replacing it, with a `_SUCCESS`.
    * A target that got no rows is replaced by an empty directory with
    * `_SUCCESS`, like an overwrite with an empty frame, or left untouched
    * when `skipEmpty`. */
  def writeRouted(
      df: DataFrame,
      routeCol: String,
      targets: Map[String, String],
      partitionCols: Seq[String],
      skipEmpty: Boolean): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(targets.values.head).getFileSystem(conf)
    val dst = targets.map { case (id, p) => id -> fs.makeQualified(new Path(p)) }
    def ancestors(p: Path) = Iterator.iterate(p.getParent)(_.getParent).takeWhile(_ != null).toList
    // makeQualified rejects a target on another filesystem
    val parent = dst.values.map(ancestors).reduce((a, b) => a.filter(b.contains)).head
    val staging = new Path(parent, s"_graft_staging_${UUID.randomUUID()}")
    try {
      write(df, staging.toString, routeCol +: partitionCols)
      dst.foreach { case (id, target) =>
        val src = new Path(staging, getPartitionPathString(routeCol, id))
        val landed = fs.exists(src)
        if (landed || !skipEmpty) {
          fs.delete(target, true)
          fs.mkdirs(if (landed) target.getParent else target)
          if (landed && !fs.rename(src, target))
            throw new IOException(s"could not move $src to $target")
          fs.create(new Path(target, "_SUCCESS")).close()
        }
      }
    } finally fs.delete(staging, true)
  }
}

package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{AnalysisException, DataFrame, DataFrameReader, GraftSourceBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV scans (SURVEY.md §2.1 S1–S3). The reference reads everything as
  * string with no inference and casts selectively (reference
  * `src/price_zone/transform_spark_job.py:44-48`; pipe-CSV with forced
  * string dtypes `src/pa/pa_etl_script.py:104-109`).
  *
  * All-string reads resolve their columns on the driver, with no Spark
  * job: the path is globbed and listed by Spark's own file index
  * (recursion, `_`/`.` names skipped, `k=v` partition directories kept),
  * the first non-empty, non-comment line of the largest data file — the
  * file Spark's schema inference reads first — is read through Spark's
  * codec streams, parsed with the reader's own `CSVOptions` and made
  * unique with `CSVUtils.makeSafeHeader`, and the resulting all-string
  * schema goes to the reader. That is what `TextInputCSVDataSource`
  * infers with `inferSchema=false`, minus the job it spends on one line.
  * Columns bind by position, as with inference; partition columns are
  * discovered and type-inferred by the reader as before.
  *
  * Scale notes: Spark/Hadoop reads `.csv.gz` transparently, so the
  * reference's separate decompress job (S2,
  * `src/price_zone/decompress_job.py:20-30`) is not an operator here —
  * but a gz file is a single non-splittable partition, so
  * `repartitionAfterRead` exists to fan a big archive out to the cluster
  * before heavy downstream work. The path is listed twice (here and by
  * the reader), which on an object store is one extra LIST per
  * directory.
  */
object CsvSources {

  /** S1 — comma CSV, header row, every column string (no inference). */
  def commaAllString(spark: SparkSession, path: String): DataFrame =
    allString(spark, path, ",")

  /** S3 — pipe-delimited CSV, header row, explicit schema (all-string
    * unless a schema is supplied). */
  def pipe(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(allString(spark, path, "|"))(s => reader(spark, "|").schema(s).load(path))

  private def options(sep: String): Map[String, String] = Map("header" -> "true", "sep" -> sep)

  private def reader(spark: SparkSession, sep: String): DataFrameReader =
    spark.read.format("csv").options(options(sep))

  private def allString(spark: SparkSession, path: String, sep: String): DataFrame = {
    val opts = options(sep)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(opts)
    val index = new InMemoryFileIndex(spark, GraftSourceBridge.globbedPaths(path, hadoopConf), opts, None)
    val files = index.allFiles()
    if (files.isEmpty)
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "CSV"))
    val conf = spark.sessionState.conf
    val csvOptions = new CSVOptions(opts, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // empty files give the inference scan no split, so they never hold its first line
    val firstLine = files.filter(_.getLen > 0).sortBy(-_.getLen).iterator
      .flatMap(f => CSVUtils.readHeaderLine(f.getPath, csvOptions, hadoopConf))
      .nextOption()
    val header = firstLine.flatMap(l => Option(new CsvParser(csvOptions.asParserSettings).parseLine(l)))
      .fold(Array.empty[String])(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, csvOptions))
    // A header name that is also a partition column would be dropped from
    // a given schema, binding the file's later columns one place off;
    // inference keeps it in place with the partition's value. So it is
    // read under a placeholder name and the partition column put there.
    val partitions = index.partitionSchema.fieldNames
    val partitionOf = header.map(h => partitions.find(conf.resolver(_, h)))
    val readAs = header.zip(partitionOf).map { case (h, p) => if (p.isEmpty) h else s"${h}_graft_file_value" }
    val df = reader(spark, sep).schema(StructType(readAs.map(StructField(_, StringType)))).load(path)
    if (partitionOf.forall(_.isEmpty)) df
    else {
      val overlapped = partitionOf.flatten
      val columns = header.zip(partitionOf).map { case (h, p) => p.getOrElse(h) } ++
        partitions.filterNot(overlapped.contains)
      df.select(columns.toSeq.map(n => df.col(s"`${n.replace("`", "``")}`")): _*)
    }
  }

  /** Post-read fan-out for non-splittable inputs (.gz): one partition in,
    * `n` out. No-op when the source already parallelized. */
  def repartitionAfterRead(df: DataFrame, n: Int): DataFrame =
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df

  /** S1 variant with malformed-line capture: PERMISSIVE parse keeps bad
    * physical lines in `_corrupt_record` instead of failing the job —
    * the ingestion-side complement to the row-level validation rules
    * (the reference assumes clean CSV; at 100 TB that assumption always
    * breaks somewhere). Requires an explicit schema (all-string contract
    * plus the capture column). */
  def commaWithCorruptCapture(
      spark: SparkSession, path: String, columns: Seq[String]): DataFrame = {
    val schema = StructType(
      columns.map(StructField(_, StringType, nullable = true)) :+
        StructField("_corrupt_record", StringType, nullable = true))
    spark.read.format("csv")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .load(path)
  }
}

package graft.transform

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The PA (Price Advisor) pipeline
  * (`/root/reference/src/pa/pa_etl_script.py:224-317`), rebuilt as a
  * distributed Spark plan. The reference runs this single-node in pandas;
  * shape here is identical to the price-zone plan so it scales the same
  * way.
  *
  * Like the reference (`pa_etl_script.py:109,285-296`), a file is read
  * once: the routed frame keeps its cluster column and is written in one
  * job, partitioned by cluster and opco, into a hidden staging directory
  * beside the cluster targets; each `_cluster=<id>` subtree is then moved
  * to its cluster's directory (a rename on local and HDFS storage, a copy
  * on object stores). The counts are observed on that same job, and the
  * cluster of each row is looked up in the opco→cluster mapping
  * collected on the driver, so that write is the file's only job.
  *
  * Semantic divergences from pandas (documented per SURVEY.md §7.4):
  * `pd.to_numeric` / `strptime` RAISE on junk; our engine flags and
  * counts instead (try_cast/try_to_timestamp null → counted invalid),
  * which is the engine-consistent behavior.
  */
object PaTransform {

  /** Cluster routing outcome (J1): per-cluster frames plus the
    * invalid-or-inactive opco set
    * (`pa_etl_script.py:85-101,275-277`). */
  final case class Routed(
      byCluster: Map[String, DataFrame],
      invalidOrInactive: DataFrame)

  /** Column transform (`pa_etl_script.py:243-264`):
    * drop CURRENT_PRICE/REASON/NEW_PRICE; rename ITEM_ID→supc,
    * LOCAL_REFERENCE_PRICE→price, ITEM_ATTR_5_NM→catch_weight_indicator;
    * EFFECTIVE_DATE → date part (X7); EXPORT_DATE → epoch seconds (X8);
    * PRICE_ZONE_ID 'NNN-Z' → opco_id + price_zone_id (X9; a value with no
    * '-' gives a null zone, as pandas' `str.split(expand=True)` does, so
    * the one-pass write, which projects every row before routing, does
    * not fail a file on a row that routes nowhere); fixed output column
    * order (P6 — load-bearing for the positional DB load).
    */
  def transform(raw: DataFrame): DataFrame =
    raw
      .drop("CURRENT_PRICE", "REASON", "NEW_PRICE")
      .select(
        col("ITEM_ID").as("supc"),
        date_format(
          try_to_timestamp(substring_index(col("EFFECTIVE_DATE"), " ", 1), lit("yyyy-MM-dd")),
          "yyyy-MM-dd").as("effective_date"),
        col("LOCAL_REFERENCE_PRICE").as("price"),
        unix_timestamp(
          try_to_timestamp(col("EXPORT_DATE"), lit("yyyy-MM-dd HH:mm:ss"))).as("export_date"),
        col("ITEM_ATTR_5_NM").as("catch_weight_indicator"),
        get(split(col("PRICE_ZONE_ID"), "-"), lit(1)).as("price_zone_id"),
        split(col("PRICE_ZONE_ID"), "-").getItem(0).as("opco_id"))

  /** F10 — the invalid-price predicate: numeric price <= 0
    * (`pa_etl_script.py:202-209`; count-only, rows are NOT removed). */
  private def badPrice(column: String): Column = expr(s"try_cast($column AS DOUBLE)") <= lit(0.0)

  /** F10 — price validation: count of rows with numeric price <= 0. */
  def invalidPriceCount(df: DataFrame, column: String = "price"): Long =
    df.filter(badPrice(column)).count()

  /** The routing column: the opco's cluster from the mapping, null when
    * the opco is unmapped. */
  private val ClusterCol = "_cluster"
  private val Clusters = Seq("01", "02")

  /** `df` with its opco's cluster as [[ClusterCol]]: one row per
    * mapping row of its opco, and one row with a null cluster when the
    * opco is unmapped or null, as a left join with `mapping` on
    * `opco_id` gives. `mapping(opco_id, cluster_id)` is dimension-sized:
    * it is collected on the driver (a local frame collects with no job)
    * and each row's clusters are looked up in a literal
    * `map<string, array<string>>`, so routing adds no join, no broadcast
    * and no job. A mapping row with a null `opco_id` matches nothing; one
    * with a null `cluster_id` routes nowhere. Both columns must be plain
    * strings, as the transform's `opco_id` and the cluster ids are;
    * another type is refused with an `IllegalArgumentException` naming
    * it, rather than compared after an implicit cast. */
  private def withCluster(df: DataFrame, mapping: DataFrame): DataFrame = {
    val Seq(opco, cluster) = Seq("opco_id", "cluster_id").map { c =>
      val field = mapping.schema(c)
      require(field.dataType == StringType,
        s"the cluster mapping's $c must be a string, not ${field.dataType.sql}")
      mapping.schema.fieldIndex(c)
    }
    val clustersOf = mapping.collect().toSeq
      .filterNot(_.isNullAt(opco))
      .groupMap(_.getString(opco))(_.getString(cluster))
    val lookup = typedLit(clustersOf)
    df.select(col("*"), explode_outer(lookup(col("opco_id"))).as(ClusterCol))
  }

  /** Rows that route: mapped to one of `clusters` and active. */
  private def routes(clusters: Seq[String], activeOpcos: Seq[String]): Column =
    col(ClusterCol).isin(clusters: _*) && col("opco_id").isin(activeOpcos: _*)

  /** J1 — route by opco→cluster mapping (a driver-side lookup) and
    * active-membership; the invalid bucket is mapped-but-inactive or
    * unmapped (`pa_etl_script.py:85-101` + duplicate impl
    * `FetchFileListLambda/index.py:75-118`). */
  def route(df: DataFrame, mapping: DataFrame, activeOpcos: Seq[String],
      clusters: Seq[String] = Clusters): Routed = {
    val clustered = withCluster(df, mapping)
    val byCluster = clusters.map { cid =>
      cid -> clustered.filter(routes(Seq(cid), activeOpcos)).drop(ClusterCol)
    }.toMap
    val invalid = clustered
      .filter(!coalesce(routes(clusters, activeOpcos), lit(false)))
      .select(col("opco_id")).distinct()
    Routed(byCluster, invalid)
  }

  /** One job over `df`: route it, write each cluster's rows as per-opco
    * partitioned CSV to `target(cluster)`
    * ([[graft.sinks.PartitionedCsvSink.writeRouted]], `skipEmpty` as
    * there) and return (total records, invalid prices) observed on that
    * job. The observed node runs in the write's result stage, whose
    * metric updates Spark applies once per partition, so a retried task
    * cannot count a row twice. When the optimizer proves nothing routes
    * (say, an empty active set) it prunes the observed node with the
    * rest of the plan, and one aggregate over `df` gives the counts. */
  private[graft] def writeRouted(
      df: DataFrame,
      mapping: DataFrame,
      activeOpcos: Seq[String],
      target: String => String,
      skipEmpty: Boolean): (Long, Long) = {
    val counts = Seq(count(lit(1)).as("total"), count_if(badPrice("price")).as("bad"))
    val observation = Observation()
    val routed = withCluster(df.observe(observation, counts.head, counts.tail: _*), mapping)
      .filter(routes(Clusters, activeOpcos))
    graft.sinks.PartitionedCsvSink.writeRouted(
      routed, ClusterCol, Clusters.map(c => c -> target(c)).toMap, Seq("opco_id"), skipEmpty)
    val observed = observation.get
    if (observed.contains("total"))
      (observed("total").asInstanceOf[Long], observed("bad").asInstanceOf[Long])
    else {
      val row = df.select(counts: _*).head()
      (row.getLong(0), row.getLong(1))
    }
  }

  /** End-to-end: pipe CSV in → transform → route → per-opco partitioned
    * CSV per cluster (`pa_etl_script.py:104-296` distributed), each
    * cluster's directory overwritten. Returns (total record count,
    * invalid price count) — the metadata payload of
    * `pa_etl_script.py:298-314`. Scans the input once
    * (`ScanCountSpec`). */
  def runFile(
      spark: SparkSession,
      inputPath: String,
      outputPathByCluster: String => String,
      mapping: DataFrame,
      activeOpcos: Seq[String]): (Long, Long) =
    writeRouted(transform(graft.sources.CsvSources.pipe(spark, inputPath)),
      mapping, activeOpcos, outputPathByCluster, skipEmpty = false)
}

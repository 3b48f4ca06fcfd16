package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.sinks.PartitionedCsvSink
import graft.transform.PriceZoneTransform
import graft.validate.{ValidationReport, Validator}

/** The price-zone pipeline as an ARRIVING-FILES stream (SURVEY.md §2.9).
  *
  * The reference wires S3 `ObjectCreated` → Lambda → Step Function →
  * Glue job per file
  * (`/root/reference/src/price_zone/s3_trigger_lambda.py:45-164`); the
  * Spark-native equivalent is a file-source streaming query where each
  * discovered file batch runs the same validate→remove→finalize plan and
  * lands in the same partitioned layout. Source offsets come from the
  * checkpoint; `foreachBatch` itself is at-least-once, so each batch
  * writes to a `batch_id=<id>`-scoped directory with overwrite mode — a
  * replayed batch overwrites its own output instead of appending
  * duplicates, making the sink idempotent (effectively-once end to
  * end). The trigger lambda's dedup/uuid bookkeeping disappears.
  *
  * `Trigger.AvailableNow` drains everything present and stops — the
  * batch-parity mode; swap for `ProcessingTime` in continuous
  * deployments.
  */
object PipelineStream {

  /** Raw price-zone CSV contract (S1: header, all string). */
  val rawSchema: StructType = graft.schema.Schemas.priceZoneRaw

  private val counter = new AtomicInteger(0)

  /** Per-batch reports keyed by (queryName, batchId) — the metadata the
    * reference pushes to its lambda mid-job (O4). */
  final case class BatchReport(batchId: Long, report: ValidationReport)

  /** Start (and drain, when AvailableNow) the streaming pipeline:
    * csv files in `inputDir` → validated, finalized, partitioned csv
    * under `outputDir`. Returns per-batch validation reports. */
  def runPriceZoneStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      activeOpcos: Seq[String],
      maxFilesPerTrigger: Option[Int] = None): Seq[BatchReport] = {
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[BatchReport]()
    // maxFilesPerTrigger caps files per micro-batch — with one file per
    // arrival unit this replays the reference's one-Glue-job-per-file
    // cadence exactly (v29 uses 1 so each opco's file is its own
    // batch); unset, AvailableNow drains everything in one batch
    val reader0 = spark.readStream
      .schema(rawSchema)
      .option("header", "true")
      // check each file's header against the schema's names instead of
      // binding by position: a reordered file fails the stream rather
      // than loading garbled
      .option("enforceSchema", "false")
    val raw = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
      .csv(inputDir)
    val q = raw.writeStream
      .queryName(s"graft_pz_stream_${counter.incrementAndGet()}")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mapped = PriceZoneTransform.applyMapping(batch)
        val rules = PriceZoneTransform.rules(activeOpcos)
        val (valid, report) = Validator.run(mapped, rules, "opco_id")
        // empty batches are legal in streams — the batch-mode empty-guard
        // (F13) becomes a per-batch no-op instead of a job failure
        if (report.valid > 0L) {
          // batchId-scoped path + overwrite: a batch replayed after a
          // failure between write and checkpoint commit lands in the
          // same directory, replacing (not duplicating) its output
          PartitionedCsvSink.write(PriceZoneTransform.finalize(valid),
            s"$outputDir/batch_id=$batchId", Seq("opco_id"))
        }
        reports.add(BatchReport(batchId, report))
        ()
      }
      .start()
    q.awaitTermination()
    StreamAudit.record(q)
    import scala.jdk.CollectionConverters._
    reports.asScala.toSeq.sortBy(_.batchId)
  }

  /** Per-batch PA metadata — the (record count, invalid-price count)
    * payload `pa_etl_script.py:298-314` posts per file. */
  final case class PaBatchReport(batchId: Long, records: Long, badPrice: Long)

  /** The PA pipeline (`/root/reference/src/pa/pa_etl_script.py:224-317`)
    * as an ARRIVING-FILES stream — the v29 machinery applied to the
    * second reference route (VERDICT r8 item 5): pipe-CSV exports
    * arrive one file per micro-batch, each batch runs the SAME
    * transform → price-check → cluster routing (a lookup in the mapping,
    * collected on the driver for each batch) as the batch path
    * ([[graft.transform.PaTransform]] — one implementation, two drivers,
    * one write job per batch), and each cluster's rows land in
    * a `cluster=<id>/batch_id=<id>`-scoped partitioned CSV directory.
    * The batch_id-scoped overwrite makes the at-least-once foreachBatch
    * effectively-once, exactly as the price-zone stream. Routing is
    * row-wise (stateless), so per-batch routing ≡ global routing and
    * the multi-batch landed layout must hash-match the batch gate's
    * semantics — which is what v30's oracle states. */
  def runPaStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      mapping: DataFrame,
      activeOpcos: Seq[String],
      maxFilesPerTrigger: Option[Int] = None): Seq[PaBatchReport] = {
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[PaBatchReport]()
    val reader0 = spark.readStream
      .schema(graft.schema.Schemas.paRaw)
      .option("header", "true")
      .option("enforceSchema", "false") // as the price-zone stream
      .option("sep", "|")
    val raw = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
      .csv(inputDir)
    val q = raw.writeStream
      .queryName(s"graft_pa_stream_${counter.incrementAndGet()}")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one job per batch: single-opco arrival files route each batch
        // to ONE cluster, and the empty side is skipped rather than
        // littered with header-only dirs
        val (records, badPrice) = graft.transform.PaTransform.writeRouted(
          graft.transform.PaTransform.transform(batch), mapping, activeOpcos,
          cid => s"$outputDir/cluster=$cid/batch_id=$batchId", skipEmpty = true)
        reports.add(PaBatchReport(batchId, records, badPrice))
        ()
      }
      .start()
    q.awaitTermination()
    StreamAudit.record(q)
    import scala.jdk.CollectionConverters._
    reports.asScala.toSeq.sortBy(_.batchId)
  }
}

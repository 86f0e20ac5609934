package graft.sinks

import graft.util.{ErrorCollector, HealthCheck}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Document sinks (reference O9/O6): chunked, idempotent-by-id,
  * checkpoint-friendly.  Two impls — an NDJSON directory sink (test /
  * zero-egress) and a Solr-style batched upsert sink with a pluggable
  * transport — sharing the chunking and resume contract:
  *
  *  - ≤ chunkSize records per emitted chunk (reference driver.go:199-206);
  *  - no empty trailing chunk when the row count is an exact multiple
  *    of chunkSize (fixes reference bug B8, driver.go:208-212);
  *  - rows within a chunk are ordered by id, chunks are id-contiguous,
  *    so `max(id)` of the last durable chunk is a valid INCLUSIVE
  *    resume checkpoint (reference README.md:80-88, B4 semantics).
  */
trait DocSink extends HealthCheck {
  /** Write the 4-column document frame; returns the number of rows
    * written (driver-visible, from sink-side accounting).
    */
  def write(df: DataFrame): Long

  /** The resume checkpoint after a successful write: max written id
    * (asciibetical), i.e. the reference's Solr `sort=id desc&rows=1`
    * probe (README.md:84-88) answered from sink metadata.
    */
  def checkpoint(): Option[String]

  /** Streaming (foreachBatch) entry point.  The default is only valid
    * for sinks whose `write` is an idempotent per-id upsert (e.g.
    * BatchedUpsertSink): replaying a batch re-asserts the same docs.
    * Overwrite-style sinks MUST override to isolate batches — an
    * overwrite `write` called per micro-batch would erase every prior
    * batch's output.
    */
  def writeBatch(df: DataFrame, batchId: Long): Long = write(df)
}

/** The chunk-order and checkpoint contract both sinks share, in one
  * place: repartitionByRange on id (range partitioner ⇒ id-contiguous
  * partitions, no global sort barrier) + sortWithinPartitions ⇒ each
  * partition delivers its rows in id order, and chunks cut from it in
  * order are id-contiguous.
  *
  * The row count and the checkpoint ride the sink's own action via
  * observe(): a post-write df.agg would re-execute the whole upstream
  * pipeline (at 100 TB, a second source scan per write).  The observe
  * node sits ABOVE the range exchange: the range partitioner's
  * sampling pass evaluates only the exchange's child, so the metrics
  * count each delivered row exactly once.
  */
private[sinks] final class IdOrdered(df: DataFrame) {
  require(df.columns.contains("id"), "DocSink frames carry an id column")
  private val obs = Observation("graft-sink-" + java.util.UUID.randomUUID)

  /** The frame to run the sink's one action on. */
  val rows: DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .sortWithinPartitions("id")
      .observe(obs, count(lit(1)).as("n"), max(col("id")).as("m"))

  /** (rows delivered, max id) — call only after the action on [[rows]]
    * completed; null max ⇒ no rows, no checkpoint.
    */
  def result(): (Long, Option[String]) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("m").asInstanceOf[String]))
  }
}

/** Shared machinery for chunked directory sinks: [[IdOrdered]] +
  * `maxRecordsPerFile` ⇒ every output file holds ≤ chunkSize
  * id-ordered records, and Spark never creates an empty file (B8
  * impossible by construction).  The write fan-out is the session's
  * defaultParallelism, so it scales with the cluster.
  */
sealed abstract class ChunkedDirSink(outDir: String, chunkSize: Int)
    extends DocSink {

  /** DataFrameWriter format name ("json", "parquet"). */
  protected def fmt: String
  /** Construct the per-batch subdirectory sink of the same kind. */
  protected def make(dir: String): ChunkedDirSink

  private var lastMax: Option[String] = None

  override def write(df: DataFrame): Long = {
    val ordered = new IdOrdered(df)
    ordered.rows.write.mode("overwrite")
      .option("maxRecordsPerFile", chunkSize.toLong)
      .format(fmt).save(outDir)
    val (n, m) = ordered.result()
    lastMax = m
    n
  }

  override def checkpoint(): Option[String] = lastMax

  /** Per-batch subdirectory (`batch=<id>`) so successive micro-batches
    * accumulate instead of overwriting each other; replay of a batch id
    * overwrites only its own subdirectory (idempotent per batch).  The
    * checkpoint advances monotonically across batches.
    */
  override def writeBatch(df: DataFrame, batchId: Long): Long = {
    val sub = make(s"$outDir/batch=$batchId")
    val n = sub.write(df)
    lastMax = (lastMax.toSeq ++ sub.checkpoint().toSeq)
      .reduceOption((a, b) => Ordering[String].max(a, b))
    n
  }

  override def healthCheck(): Either[String, Unit] = {
    val parent = new java.io.File(outDir).getAbsoluteFile.getParentFile
    if (parent != null && parent.exists) Right(()) else Left(s"parent dir missing for $outDir")
  }
}

/** Filesystem NDJSON sink: each record is one JSON line (explicit
  * NDJSON — fixes reference B6, which concatenated raw content with no
  * separator).
  */
final class NdjsonDirSink(outDir: String, chunkSize: Int)
    extends ChunkedDirSink(outDir, chunkSize) {
  override def name: String = s"ndjson-dir:$outDir"
  override protected def fmt: String = "json"
  override protected def make(dir: String): ChunkedDirSink =
    new NdjsonDirSink(dir, chunkSize)
}

/** Columnar parquet sink with the same chunking/resume contract as the
  * NDJSON sink — the engine-native output format (splittable,
  * predicate-pushdown-able on re-read), for pipelines whose next stage
  * is another engine job rather than Solr.
  */
final class ParquetDirSink(outDir: String, chunkSize: Int)
    extends ChunkedDirSink(outDir, chunkSize) {
  override def name: String = s"parquet-dir:$outDir"
  override protected def fmt: String = "parquet"
  override protected def make(dir: String): ChunkedDirSink =
    new ParquetDirSink(dir, chunkSize)
}

/** Transport abstraction for the Solr-style sink: prod wires an HTTP
  * client POSTing JSON update batches to `solrUrl` (reference
  * ingest.go:29-31); tests inject a collector.  Implementations must
  * be idempotent per document id (Solr upsert semantics) — that is
  * what makes inclusive resume (B4) safe.
  */
trait UpdateTransport extends Serializable {
  /** Deliver one batch of (id → serialized doc). Throw to fail the task. */
  def send(batch: Seq[(String, String)]): Unit
}

/** HTTP JSON-update transport: POSTs NDJSON batches to
  * `{solrUrl}/update/json/docs`.  Constructed lazily per executor so
  * the client never rides the closure.
  */
final class HttpUpdateTransport(solrUrl: String) extends UpdateTransport {
  @transient private lazy val client = java.net.http.HttpClient.newHttpClient()
  override def send(batch: Seq[(String, String)]): Unit = {
    val body = batch.map(_._2).mkString("\n")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"$solrUrl/update/json/docs"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"update failed: HTTP ${resp.statusCode()}")
  }
}

/** Batched upsert sink: `foreachPartition` + `grouped(chunkSize)` —
  * the reference's worker pool (O10) becomes Spark task scheduling,
  * its error channel (O11) becomes an ErrorCollector accumulator.
  * Batch boundaries honor chunkSize; an empty partition sends nothing
  * (B8).  Per-record soft failures are counted, not job-fatal (B9/B10
  * fixed); transport failures fail the task and retry.
  */
final class BatchedUpsertSink(
    transport: UpdateTransport, chunkSize: Int,
    errors: Option[ErrorCollector] = None) extends DocSink {
  override def name: String = "batched-upsert"
  private var lastMax: Option[String] = None

  override def write(df: DataFrame): Long = {
    val sent = df.sparkSession.sparkContext.longAccumulator("graft-sink-sent")
    val errs = errors
    val t = transport
    val size = chunkSize
    val ordered = new IdOrdered(df)
    ordered.rows.select(col("id"), to_json(struct(df.columns.map(col): _*)).as("doc"))
      .foreachPartition { rows: Iterator[Row] =>
        rows.map(r => (r.getString(0), r.getString(1)))
          .grouped(size)
          .foreach { batch =>
            val clean = errs match {
              case Some(ec) => batch.flatMap(b => ec.guard(s"doc ${b._1}")(b))
              case None => batch
            }
            if (clean.nonEmpty) { t.send(clean); sent.add(clean.size.toLong) }
          }
      }
    lastMax = ordered.result()._2
    sent.value
  }

  override def checkpoint(): Option[String] = lastMax

  override def healthCheck(): Either[String, Unit] = Right(())
}

package graftbench

import graft.config.ReindexConfig
import graft.functions.ArgotFlatten
import graft.operators.ReindexJob
import graft.sinks.{BatchedUpsertSink, DocSink, HttpUpdateTransport, NdjsonDirSink, UpdateTransport}
import graft.sources.{KvAuthorityStore, KvTransport, ParquetDocSource, RespKvTransport}
import graft.util.{ErrorCollector, Lockfile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One measured unit of work: its wall time, the items it completed,
  * when its first output became visible, and how many of its items
  * failed the correctness check.
  */
final case class Iter(wallS: Double, items: Long, firstOutputS: Double, attempted: Long, failed: Long,
                      problems: Seq[String] = Nil, layers: Map[String, Double] = Map.empty)

/** What a span wrapper needs: a name and a body. Untraced runs pass [[Untraced]]. */
trait Spans { def apply[T](name: String)(body: => T): T }
object Untraced extends Spans { def apply[T](name: String)(body: => T): T = body }
final class Traced(t: Tracer) extends Spans { def apply[T](name: String)(body: => T): T = t.span(name)(body) }

trait Workload extends AutoCloseable {
  /** Generates inputs and starts stubs; not part of set-up time. */
  def prepare(spark: SparkSession): Unit
  /** The unit of work that ends the set-up and warms the JIT; checked. */
  def warmup(spark: SparkSession): Iter
  /** Measured iterations a run makes even when `--seconds` is over. */
  def minIterations: Int = 1
  /** One measured unit of work; a traced one also times every KV and sink call. */
  def iteration(spark: SparkSession, spans: Spans): Iter
  /** Per-layer numbers measured in isolation, for the traced run. */
  def probes(spark: SparkSession): Map[String, Double]
  override def close(): Unit = ()
}

/** Delegating sink that notes when `write` returns: for a sink whose
  * output becomes visible only when its write commits, that is the
  * moment the first output reaches a consumer.
  */
final class ObservedSink(inner: DocSink, spans: Spans) extends DocSink {
  @volatile var writeEndNs: Long = 0L
  override def name: String = inner.name
  override def write(df: DataFrame): Long =
    try spans("sink.write")(inner.write(df)) finally writeEndNs = System.nanoTime()
  override def checkpoint(): Option[String] = inner.checkpoint()
  override def healthCheck(): Either[String, Unit] = inner.healthCheck()
}

/** `ReindexJob.run` over a seeded parquet corpus with authorities on,
  * enriched through `KvAuthorityStore(RespKvTransport)` against a RESP
  * stub. `solr = true` posts to a Solr stub through
  * `BatchedUpsertSink(HttpUpdateTransport)`; otherwise the sink is the
  * CLI's `file:` path, `NdjsonDirSink`.
  */
final class ReindexWorkload(corpus: Corpus, startId: String, solr: Boolean, workDir: String, cores: Int)
    extends Workload {
  def corpusSize: Int = corpus.size
  private val chunkSize = 1000
  private val dataPath = s"$workDir/corpus.parquet"
  private val outDir = s"$workDir/sink-out"
  private var resp: RespStub = _
  private var solrStub: SolrStub = _

  override def prepare(spark: SparkSession): Unit = {
    corpus.writeParquet(spark, dataPath, cores)
    resp = new RespStub(corpus.authorities, cores)
    if (solr) solrStub = new SolrStub(cores)
  }

  private def kv(traced: Boolean): KvTransport = {
    val t = new RespKvTransport(resp.url)
    if (traced) new TimedKvTransport(t) else t
  }

  private def http(traced: Boolean): UpdateTransport = {
    val t = new HttpUpdateTransport(solrStub.url)
    if (traced) new TimedUpdateTransport(t) else t
  }

  private def newSink(errors: ErrorCollector, traced: Boolean, dir: String): DocSink =
    if (solr) new BatchedUpsertSink(http(traced), chunkSize, Some(errors))
    else new NdjsonDirSink(dir, chunkSize)

  /** Runs are still getting faster after the warm-up, so every run
    * takes the median of the same number of them, even on a slow host.
    */
  override def minIterations: Int = 4

  /** The set-up warm-up is two untraced runs over the whole corpus:
    * after one, the next runs are still getting faster.
    */
  override def warmup(spark: SparkSession): Iter = {
    val (a, b) = (iteration(spark, Untraced), iteration(spark, Untraced))
    Iter(a.wallS + b.wallS, a.items + b.items, a.firstOutputS, a.attempted + b.attempted,
      a.failed + b.failed, a.problems ++ b.problems)
  }

  /** One `ReindexJob.run` over the corpus, checked against it. */
  override def iteration(spark: SparkSession, spans: Spans): Iter = {
    val traced = spans ne Untraced
    val conf = ReindexConfig(password = "bench", solrUrl = if (solr) solrStub.url else s"file:$outDir",
      chunkSize = chunkSize, authorities = true, redisUrl = resp.url, startId = startId)
    val errors = ErrorCollector(spark.sparkContext)
    val sink = new ObservedSink(newSink(errors, traced, outDir), spans)
    val source = new ParquetDocSource(dataPath, startId)
    val store = new KvAuthorityStore(kv(traced))
    if (solr) solrStub.reset()
    val busy0 = resp.busyNs.get
    val t0 = System.nanoTime()
    val res = spans("reindex.run")(ReindexJob.run(spark, conf, source, sink, Lockfile.default(workDir),
      Some(errors), Some(store)))
    val t1 = System.nanoTime()
    res match {
      case Left(reasons) =>
        val none = Checker.check(corpus, startId, Delivered(Map.empty, 0, 0, None))
        Iter((t1 - t0) / 1e9, 0, 0, none.attempted, none.attempted, reasons)
      case Right(r) =>
        val (docs, files) =
          if (solr) (scala.jdk.CollectionConverters.ConcurrentMapHasAsScala(solrStub.docs).asScala, 0)
          else Checker.readNdjsonDir(outDir)
        val check = Checker.check(corpus, startId, Delivered(docs, r.docsWritten, r.softErrors, r.checkpoint))
        val bytes = if (solr) solrStub.bytes.get else dirBytes(outDir)
        // drop the chunk files before their write-back can land in the next run's timing
        if (!solr) graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(outDir))
        val first = if (solr) solrStub.firstBatchNs.get else sink.writeEndNs
        val layers = Map(
          "kv.stub_busy_s" -> (resp.busyNs.get - busy0) / 1e9,
          "sink.dup_deliveries" -> check.dupDeliveries.toDouble,
          "sink.files" -> files.toDouble,
          "sink.stub_busy_s" -> (if (solr) solrStub.busyNs.get / 1e9 else 0.0),
          "sink.bytes" -> bytes.toDouble)
        Iter((t1 - t0) / 1e9, r.docsWritten, (first - t0) / 1e9, check.attempted, check.failed,
          check.problems, layers)
    }
  }

  private def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).map(_.length).sum

  override def probes(spark: SparkSession): Map[String, Double] = {
    def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val source = new ParquetDocSource(dataPath, startId)
    val scan = time(source.load(spark).write.format("noop").mode("overwrite").save())
    val flattenPass = time(source.load(spark)
      .withColumn("flat", ArgotFlatten.flattenArgot(col("content")))
      .select(to_json(struct(col("id"), col("owner"), col("flat"))))
      .write.format("noop").mode("overwrite").save())
    // single-thread flatten over a fixed sample of the corpus
    val sample = (0 until math.min(2000, corpus.size)).map(corpus.content)
    val perDoc = (0 until 5).map { _ =>
      time(sample.foreach(ArgotFlatten.flattenEither)) / sample.size * 1e6
    }.sorted.apply(2)
    val docs = source.load(spark).withColumn("flat", ArgotFlatten.flattenArgot(col("content"))).persist()
    docs.count()
    val enrich = time(new KvAuthorityStore(kv(false)).enrich(docs).write.format("noop").mode("overwrite").save())
    val enriched = new KvAuthorityStore(kv(false)).enrich(docs).persist()
    enriched.count()
    if (solr) solrStub.reset()
    val write = time(newSink(ErrorCollector(spark.sparkContext), traced = false, s"$workDir/probe-out")
      .write(enriched))
    enriched.unpersist(); docs.unpersist()
    Map("sources.scan_s" -> scan, "flatten.pass_s" -> flattenPass, "flatten.us_per_doc" -> perDoc,
      "kv.enrich_s" -> enrich, "sink.write_s" -> write)
  }

  override def close(): Unit = {
    if (resp != null) resp.close()
    if (solrStub != null) solrStub.close()
  }
}

/** The registered analytics queries over generated star-schema, event
  * and document tables. One iteration is one pass over `queries` in
  * the seeded order; every query's build, Catalyst and execute layers
  * are timed separately.
  */
final class AnalyticsWorkload(val queries: Seq[String], dataDir: String, workDir: String) extends Workload {

  override def prepare(spark: SparkSession): Unit = ()

  /** A pass takes longer than a run's window; two give each query a
    * second sample.
    */
  override def minIterations: Int = 2

  override def warmup(spark: SparkSession): Iter = {
    val t = Analytics.timed(spark, dataDir, "q01_pricing_summary")
    Iter(t.wallS, 1, t.wallS, 0, 0)
  }

  /** Untimed pass that writes every result for the oracle comparison;
    * it also warms every query's code paths before timing.
    */
  def oraclePass(spark: SparkSession): Iter = {
    val failed = Analytics.dumpForOracle(spark, dataDir, queries, s"$workDir/oracle")
    Iter(0, 0, 0, queries.size.toLong, failed.size.toLong, failed.map(q => s"$q threw"))
  }

  override def iteration(spark: SparkSession, spans: Spans): Iter = {
    val timings = queries.flatMap { q =>
      try Some(spans(s"analytics.$q")(Analytics.timed(spark, dataDir, q, spans)))
      catch {
        case e: Exception =>
          System.err.println(s"[bench] $q failed: ${e.getMessage}")
          Analytics.release(spark)
          None
      }
    }
    val walls = timings.map(_.wallS)
    // a query's output reaches its consumer when the query completes;
    // the pass reports the geometric mean of its queries' latencies
    val latency = math.exp(walls.map(math.log).sum / math.max(1, walls.size))
    Iter(walls.sum, timings.size.toLong, latency, queries.size.toLong,
      (queries.size - timings.size).toLong, queries.diff(timings.map(_.query)).map(q => s"$q threw"),
      timings.map(t => s"wall.${t.query}" -> t.wallS).toMap)
  }

  override def probes(spark: SparkSession): Map[String, Double] = Map.empty
}

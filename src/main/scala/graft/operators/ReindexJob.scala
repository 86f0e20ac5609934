package graft.operators

import graft.config.ReindexConfig
import graft.functions.ArgotFlatten
import graft.sinks.DocSink
import graft.sources.{AuthorityStore, DocSource}
import graft.util.{ErrorCollector, Lockfile, Preflight}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The composed reindex job — the reference's `main()` re-expressed as
  * one declarative pipeline (reference driver.go:119-220; lifecycle
  * table in SURVEY.md §3.1):
  *
  *   preflight(source, sink) → lockfile → scan → filter/resume →
  *   flatten+suffix → chunked idempotent sink → checkpoint → release
  *
  * What the thread/process choreography becomes (SURVEY §3.1): the
  * bounded file channel and worker pool are Spark task scheduling; the
  * errors channel is an ErrorCollector accumulator (B10 fixed: counts
  * are exact and surfaced in the result); the argot subprocess is the
  * in-JVM flatten (O7); `log.Fatal` mid-worker (B1/B9) has no analog —
  * soft errors skip records, hard errors retry tasks.
  */
object ReindexJob {

  /** Outcome surfaced to the operator (replaces the reference's lossy
    * ≤1-error drain + always-zero exit code, driver.go:215-219).
    * `docsWritten` counts only indexed documents; soft-error records
    * are excluded from the sink, so written + softErrors = scanned.
    */
  final case class Result(
      docsWritten: Long,
      softErrors: Long,
      errorSamples: Seq[String],
      checkpoint: Option[String])

  /** Run the pipeline.  Returns Left(reasons) if preflight or locking
    * refuses to start (reference aborts likewise, driver.go:120-145).
    *
    * `sinkErrors`: pass the same ErrorCollector the sink was built
    * with (BatchedUpsertSink takes one) and its per-record delivery
    * failures fold into the Result.
    *
    * `authorityStore`: consulted only when `conf.authorities` (the
    * reference default, config.go:82).  Enabled-but-unwired is a
    * preflight refusal, and the store's own health check joins the
    * preflight round — the reference likewise pings Redis up front
    * and aborts (driver.go:133-145).
    */
  def run(spark: SparkSession, conf: ReindexConfig,
          source: DocSource, sink: DocSink,
          lock: Lockfile = Lockfile.default(),
          sinkErrors: Option[ErrorCollector] = None,
          authorityStore: Option[AuthorityStore] = None): Either[Seq[String], Result] = {
    if (conf.authorities && authorityStore.isEmpty)
      return Left(Seq("authorities enabled but no authority store wired"))
    val store = authorityStore.filter(_ => conf.authorities)
    Preflight.run(Seq(source, sink) ++ store) match {
      case Left(failures) => return Left(failures)
      case Right(_) => ()
    }
    if (!lock.acquire())
      return Left(Seq(s"another reindex holds ${lock.path}" +
        lock.holderPid.map(p => s" (pid $p)").getOrElse("")))
    try {
      // scan → (source applies NOT-deleted + resume) → flatten+suffix,
      // one parse per record: the flat map and the parse-failure reason
      // come out of the same call.  Records whose content fails to
      // flatten are SKIPPED (not indexed) and exactly counted — shipping
      // an empty flat map to the sink would plant broken documents in
      // the index.  The flattened map rides along as a column so the
      // sink's NDJSON serialization carries the Solr dynamic fields.
      val parsed = source.load(spark)
        .withColumn("parsed", ArgotFlatten.flattenOrError(col("content")))
        .withColumn("flat", col("parsed._1"))
        .withColumn("err", col("parsed._2"))
        .drop("parsed")
      // authority enrichment (O8) between flatten and sink — the
      // reference's `argot ingest -a --redis-url` step.  The one pin:
      // the sink's range-partition sampling pass, its delivery pass and
      // the soft-error count below all read this cache, so the source
      // is scanned, parsed and (with a store) looked up once per run —
      // without it every pass would re-scan the source, re-parse every
      // record and repeat the mget sweep against the external store.
      val pinned = store.map(_.enrich(parsed)).getOrElse(parsed).persist()
      try {
        val written = sink.write(pinned.filter(col("err").isNull).drop("err"))
        // Exact soft-error surfacing (fixes reference B10): parse
        // failures are counted with an ordinary aggregation over the
        // pin — an accumulator inside the flatten would over-count
        // whenever the sink's sampling evaluates the plan twice.
        val errs = pinned.filter(col("err").isNotNull).select(col("id"), col("err"))
        val parseErrors = errs.count()
        val parseSamples =
          if (parseErrors == 0) Seq.empty[String]
          else errs.orderBy(col("id")).limit(5).collect()
            .map(r => s"doc ${r.getString(0)}: ${r.getString(1)}").toSeq
        val sinkErrCount = sinkErrors.map(_.count).getOrElse(0L)
        val sinkSamples = sinkErrors.map(_.report).getOrElse(Seq.empty)
        Right(Result(written, parseErrors + sinkErrCount,
          parseSamples ++ sinkSamples, sink.checkpoint()))
      } finally { pinned.unpersist(); () }
    } finally lock.release()
  }
}

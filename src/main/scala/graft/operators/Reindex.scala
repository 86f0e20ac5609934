package graft.operators

import graft.Tables
import graft.sources.ParquetDocSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's reindex pipeline re-expressed as a declarative plan
  * (reference driver.go:178-212; SURVEY.md §7.2-M1):
  *
  *   scan documents → filter(NOT deleted) → project 4 cols
  *     → optional resume `id >= startId` → order by id (asciibetical)
  *     → chunk into ≤ chunkSize record groups → sink
  *
  * Fidelity decisions (SURVEY.md §0.1 policy):
  *  - ids sort and compare as STRINGS ("asciibetical", README.md:77-78):
  *    the fixture's numeric doc_id is cast to string before any
  *    ordering or resume comparison, so '150' < '2'.
  *  - resume is INCLUSIVE (`id >= startId`) as coded (B4 kept).
  *  - chunk index is derived from the global rank, so chunk boundaries
  *    are deterministic and an exact multiple of chunkSize never
  *    produces an empty trailing chunk (B8 fixed by construction).
  *
  * Scale note: `chunked` computes its global ranks with the two-pass
  * range-partition + offset pattern (no single-partition window); the
  * production write path in NdjsonDirSink reaches the same chunk
  * contract with repartitionByRange + sortWithinPartitions +
  * maxRecordsPerFile — no rank materialization at all (SURVEY.md §7.3).
  */
object Reindex {

  /** The scan→filter→project→resume slice over the documents fixture:
    * exactly what the reindex job's parquet source reads (doc_id↔id,
    * text↔content, source↔owner, inclusive `id >= startId`; the
    * fixture has no `deleted` column so that filter is identity here —
    * the JDBC source keeps it, see sources.JdbcDocSource).
    */
  def scanSlice(spark: SparkSession, dir: String, startId: String = ""): DataFrame =
    new ParquetDocSource(s"$dir/documents.parquet", startId).load(spark)

  /** Resume-aware ordered scan with deterministic chunk assignment:
    * every output row carries its chunk index (size `chunkSize`,
    * asciibetical id order).
    *
    * Scale shape (the q65 two-pass global-rank pattern, replacing the
    * r3 single-partition `Window.orderBy(id)`):
    *
    *  1. range-partition on id — id-contiguous, balanced partitions;
    *  2. count rows per partition (tiny aggregate) and prefix-sum into
    *     per-partition rank offsets;
    *  3. local row_number per partition + offset = exact global rank →
    *     chunk = floor((rank-1)/chunkSize).
    *
    * The partitioned frame is persisted so the counts pass and the
    * rank pass see the SAME spark_partition_id assignment — without
    * it, correctness would hinge on ReuseExchange deduplicating the
    * two range shuffles (fragile under AQE/pruning divergence).  The
    * materialization is comparable to the shuffle write the range
    * exchange pays anyway.
    *
    * Cache lifecycle: the pin is a *lazy* `localCheckpoint`, not a
    * `persist` — materialized by the caller's first action, then
    * released by the ContextCleaner as soon as the returned frame is
    * unreachable.  Repeated invocations therefore cannot accumulate
    * executor-cache pins, and nothing registers in the SQL
    * CacheManager (no `clearCache()` obligation on callers).  The
    * trade, as in connectedComponents: an executor lost mid-action
    * fails the job instead of recomputing lineage — retried
    * clean-slate.  Same lifecycle on sequencePacking,
    * pricePercentilesScalable and lloydCentroids.
    */
  def chunked(spark: SparkSession, dir: String,
              chunkSize: Int = 20, startId: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nParts = spark.sparkContext.defaultParallelism
    val sorted = scanSlice(spark, dir, startId)
      .select("id", "owner")
      .repartitionByRange(nParts, col("id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(false)
    val counts = sorted.groupBy("pid").agg(count(lit(1)).as("c"))
    // ≤ nParts count rows: partitioning by the constant pmod(pid,1)=0
    // keeps this off WindowExec's no-partition path while the frame is
    // tiny by construction (one row per range partition)
    val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy(col("pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .select("pid", "off")
    val wLocal = Window.partitionBy("pid").orderBy(col("id").asc)
    sorted.join(broadcast(offsets), Seq("pid"))
      .withColumn("rn", row_number().over(wLocal) + col("off"))
      .withColumn("chunk", floor((col("rn") - 1) / chunkSize).cast("long"))
      .select("id", "owner", "chunk")
  }

  /** Authority enrichment (reference O8): a broadcast lookup join
    * against a small authority dimension.  Here the dimension is
    * derived per-source (the fixture has no external Redis store); the
    * production shape is identical — broadcast(authorities) keeps the
    * fact side shuffle-free at any scale.
    */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val authorities = docs.groupBy("source")
      .agg(count(lit(1)).as("source_docs"), max(col("n_chars")).as("source_max_chars"))
    docs.join(broadcast(authorities), "source")
      .select(col("doc_id"), col("source"), col("source_docs"), col("source_max_chars"))
  }

  /** Reindex diff (SURVEY.md §2.B set ops): documents present in the
    * source but missing from the sink — the operational "what still
    * needs indexing" query, as an anti join.
    */
  def diff(source: DataFrame, sink: DataFrame): DataFrame =
    source.join(sink, Seq("id"), "left_anti")

  /** CDC merge / upsert (q86): apply a change batch (upserts +
    * deletes) to a snapshot — the nightly incremental-maintenance
    * step of a large corpus, and the Spark-native generalization of
    * the reference's resume-from-checkpoint semantics (re-running a
    * slice must land as idempotent updates, ingest/ingest.go:29-31's
    * "add OR update" contract).  One full-outer equi-join on the key
    * classifies every row: snapshot-only → kept, matched upsert →
    * updated, change-only upsert → inserted, delete → dropped.
    *
    * Fixture derivation (deterministic in both engines): snapshot =
    * doc_id < 450; changes = doc_id >= 400, delete when doc_id % 10
    * < 2 else upsert with text || ' v2'.
    *
    * 100 TB shape: ONE shuffle on the join key per side (or zero for
    * the snapshot when both tables are bucketed on the key — the
    * Bucketing module's co-located-join shape); a typical nightly
    * change batch is orders of magnitude smaller than the snapshot,
    * so AQE picks a broadcast and the snapshot never shuffles at all.
    * No window, no pairwise work; the delete filter runs after the
    * join by necessity (a delete row must meet its snapshot partner
    * to remove it) but costs one codegen'd predicate, not a pass.
    */
  def cdcMerge(spark: SparkSession, dir: String,
               snapMax: Long = 450L, changeMin: Long = 400L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val snap = docs.filter(col("doc_id") < snapMax)
      .select(col("doc_id"), col("text"), col("source"))
    val changes = docs.filter(col("doc_id") >= changeMin)
      .select(col("doc_id"),
        when(col("doc_id") % 10 < 2, lit("delete")).otherwise(lit("upsert")).as("op"),
        concat(col("text"), lit(" v2")).as("new_text"))
    snap.join(changes, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op") =!= "delete", lit(true)))
      .select(
        col("doc_id"),
        coalesce(col("new_text"), col("text")).as("text"),
        when(col("op").isNull, lit("kept"))
          .when(col("text").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("action"))
  }
}

package graftbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Registered analytics queries timed from outside the program, one
  * layer at a time:
  *  - build: the call into `SparkEntry.queries(q)`, which runs any
  *    jobs the query needs before its DataFrame exists;
  *  - catalyst: forcing `queryExecution.executedPlan`;
  *  - execute: consuming `queryExecution.toRdd`.
  */
object Analytics {
  /** Queries whose wall time is mostly spent building the DataFrame.
    * Build share of wall in traced runs on the generated tables (scale
    * 0.002, 4 vCPUs): q307 91%, q304 84%, q372 99%, q360 80%, q237 98%,
    * q207 65%.
    */
  val buildBound: Seq[String] = Seq(
    "q307_hits", "q304_blocking_audit", "q372_stream_mv", "q360_cbo_persisted", "q237_bucketed_join",
    "q207_tpch_q21")
  /** Queries whose wall time is mostly spent executing the final plan.
    * Execute share of wall, measured as above: q124 62%, q275 87%,
    * q41 71%, q01 75%.
    */
  val executeBound: Seq[String] = Seq(
    "q124_containment", "q275_ngram_dup", "q41_cube", "q01_pricing_summary")
  val all: Seq[String] = buildBound ++ executeBound

  final case class Timing(query: String, buildS: Double, catalystS: Double, executeS: Double) {
    def wallS: Double = buildS + catalystS + executeS
  }

  /** Frees what a query may pin between queries, as the program's own
    * correctness runner does.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.util.Pins.releaseAll(spark)
  }

  /** Runs one query through its three layers, each in its own span. */
  def timed(spark: SparkSession, dataDir: String, q: String, spans: Spans = Untraced): Timing = {
    val t0 = System.nanoTime()
    val df = spans(s"analytics.$q.build")(SparkEntry.queries(q)(spark, dataDir))
    val t1 = System.nanoTime()
    spans(s"analytics.$q.catalyst")(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    spans(s"analytics.$q.execute")(df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ())))
    val t3 = System.nanoTime()
    release(spark)
    Timing(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** Writes each query's result as one parquet file, plus the oracle
    * SQL for each, for the DuckDB comparison that follows the run.
    * Returns the queries that threw.
    */
  def dumpForOracle(spark: SparkSession, dataDir: String, queries: Seq[String], outDir: String): Seq[String] = {
    val failed = queries.filterNot { q =>
      try {
        SparkEntry.queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[bench] $q failed: ${e.getMessage}")
          false
      } finally release(spark)
    }
    val oracle = queries.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), oracle)
    failed
  }
}

object Json {
  /** JSON string literal: quotes, backslashes and control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite double with all its digits; non-finite values become 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

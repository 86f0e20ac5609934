package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload and prints, as its last
  * stdout line, `{"correct", "attempted", "failed", "metrics"}`.
  *
  * {{{
  * graftbench.Main --workload reindex_bulk|reindex_resume|analytics_mix
  *   --seed N --seconds S --trace 0|1 --work DIR [--data DIR]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics, measured with no span,
  * listener or timing wrapper in place. `--trace 1` alternates untraced
  * and traced iterations and reports the per-layer metrics, the
  * tracing overhead and the per-layer probes.
  */
object Main {
  val bulkDocs = 20000
  val resumeDocs = 300000
  val workloads: Seq[String] = Seq("reindex_bulk", "reindex_resume", "analytics_mix")
  /** End-to-end metric names and units, reported by every workload. */
  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "throughput_per_s" -> "1/s", "first_output_s" -> "s", "retained_heap_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, data: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.getOrElse("data", ""))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      // bound what Spark's own status stores keep, so the heap retained
      // after a run does not grow with the number of iterations it fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Temp dirs the program created and did not remove. */
  def tmpDirsLeft(): Int =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("graft-"))

  /** Heap in use once full GCs stop freeing anything: Spark's cleaner
    * releases shuffle and broadcast data asynchronously, after a GC has
    * cleared their references, so one GC is not enough.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var (prev, now, n) = (Long.MaxValue, used(), 1)
    while (now < prev && n < 10) { prev = now; now = used(); n += 1 }
    math.min(prev, now) / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(a.work))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val workload: Workload = a.workload match {
      case "reindex_bulk" =>
        new ReindexWorkload(Corpus.bulk(a.seed, bulkDocs), "", solr = true, a.work, cores)
      case "reindex_resume" =>
        new ReindexWorkload(Corpus.resume(a.seed, resumeDocs), Corpus.startId(a.seed), solr = false, a.work, cores)
      case "analytics_mix" =>
        require(a.data.nonEmpty, "analytics_mix needs --data")
        new AnalyticsWorkload(new scala.util.Random(a.seed).shuffle(Analytics.all), a.data, a.work)
    }
    var attempted = 0L
    var failed = 0L
    val problems = Seq.newBuilder[String]
    def count(it: Iter): Iter = {
      attempted += it.attempted; failed += it.failed; problems ++= it.problems; it
    }

    // set-up: from JVM start until the session is built and the warm-up
    // unit of work is done, minus input generation (reported on its own)
    val spark = session(cores, a.work)
    val g0 = System.nanoTime()
    workload.prepare(spark)
    val genS = (System.nanoTime() - g0) / 1e9
    count(workload.warmup(spark))
    val setupS = (System.nanoTime() - jvmStartNs) / 1e9 - genS

    // analytics: one more untimed, checked pass before timing, which
    // writes every result for the oracle and runs each query once
    val w0 = System.nanoTime()
    workload match {
      case w: AnalyticsWorkload => count(w.oraclePass(spark))
      case _ =>
    }
    val oracleS = (System.nanoTime() - w0) / 1e9

    // measured iterations for `--seconds`, and in an untraced run at
    // least the workload's minimum; a traced run alternates untraced and
    // traced ones, so both see the same warm-up and host conditions
    val tracer = new Tracer(java.util.UUID.randomUUID.toString, spark.sparkContext)
    val jobs = new JobStats
    val untracedB, tracedB = Seq.newBuilder[Iter]
    val m0 = System.nanoTime()
    var n = 0
    do {
      untracedB += count(workload.iteration(spark, Untraced))
      n += 1
      if (a.trace) {
        jobs.attach(spark.sparkContext)
        tracedB += count(workload.iteration(spark, new Traced(tracer)))
        jobs.detach(spark.sparkContext)
      }
    } while ((System.nanoTime() - m0) / 1e9 < a.seconds || (!a.trace && n < workload.minIterations))
    val untraced = untracedB.result()
    val heapMb = retainedHeapMb()
    val metrics = Seq.newBuilder[(String, Double, String)]
    val info = Seq.newBuilder[(String, String)]
    info += "workload" -> Json.str(a.workload)
    info += "seed" -> a.seed.toString
    info += "cores" -> cores.toString
    info += "iteration_s" -> untraced.map(i => Json.num(i.wallS)).mkString("[", ",", "]")
    workload match {
      case _: ReindexWorkload =>
        info += "corpus_docs" -> (if (a.workload == "reindex_bulk") bulkDocs else resumeDocs).toString
      case w: AnalyticsWorkload =>
        info += "queries" -> w.queries.map(Json.str).mkString("[", ",", "]")
        info += "oracle_pass_s" -> Json.num(oracleS)
    }
    info += "gen_s" -> Json.num(genS)

    if (!a.trace) {
      val values = Map("setup_s" -> setupS,
        "throughput_per_s" -> median(untraced.map(i => i.items / i.wallS)),
        "first_output_s" -> median(untraced.map(_.firstOutputS)),
        "retained_heap_mb" -> heapMb)
      endToEnd.foreach { case (k, u) => metrics += ((k, values(k), u)) }
    } else {
      val traced = tracedB.result()
      val overhead = median(traced.map(_.wallS)) / median(untraced.map(_.wallS)) - 1
      val values = Layers.report(workload, tracer, jobs, traced, untraced) ++ workload.probes(spark) ++ Map(
        "trace.overhead_frac" -> overhead, "bench.gen_s" -> genS, "bench.cores" -> cores.toDouble,
        "util.tmp_dirs_left" -> tmpDirsLeft().toDouble)
      Layers.names.foreach(k => metrics += ((k, values.getOrElse(k, 0.0), Layers.unit(k))))
      tracer.write(Paths.get(a.work, "spans.jsonl"), jobs)
      info += "traced_iterations" -> traced.size.toString
    }
    workload.close()
    spark.stop()
    val ps = problems.result().distinct
    ps.take(20).foreach(p => System.err.println(s"[bench] check: $p"))
    val metricJson = metrics.result().map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val infoJson = info.result().map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    println(s"""{"info": $infoJson}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
  }
}

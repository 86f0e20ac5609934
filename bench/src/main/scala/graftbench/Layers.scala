package graftbench

/** The per-layer metrics of a traced run. Every workload reports every
  * name; a layer the workload does not use reads 0.
  */
object Layers {
  val probeNames: Seq[String] =
    Seq("sources.scan_s", "flatten.pass_s", "flatten.us_per_doc", "kv.enrich_s", "sink.write_s")

  private val analyticsFields = Seq("build_s", "catalyst_s", "execute_s", "build_jobs", "execute_jobs", "shuffle_bytes")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("us_per_doc")) "us"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_per_doc")) "bytes"
    else if (name.endsWith("_per_doc")) "count"
    else if (name.endsWith("_frac")) "frac"
    else "count"

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] = Seq(
    "sources.records_read_per_doc",
    "kv.mget_calls", "kv.keys_per_doc", "kv.mget_p50_ms", "kv.mget_p99_ms", "kv.stub_busy_s",
    "sink.send_calls", "sink.send_p50_ms", "sink.send_p99_ms", "sink.bytes_per_doc",
    "sink.dup_deliveries", "sink.files", "sink.stub_busy_s",
    "reindex.jobs", "reindex.stages", "reindex.tasks", "reindex.executor_cpu_s", "reindex.gc_s",
    "reindex.shuffle_write_bytes", "reindex.spill_bytes", "reindex.cache_peak_bytes",
    "reindex.sink_write_s", "reindex.run_self_s",
    "analytics.build_bound_s", "analytics.execute_bound_s") ++
    Analytics.all.flatMap(q => analyticsFields.map(f => s"analytics.$q.$f")) ++
    probeNames ++ Seq("trace.overhead_frac", "bench.gen_s", "bench.cores", "util.tmp_dirs_left")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Span-derived and counter-derived metrics (everything but the probes
    * and the run-level numbers the caller adds).
    */
  def report(workload: Workload, tracer: Tracer, jobs: JobStats,
             traced: Seq[Iter], untraced: Seq[Iter]): Map[String, Double] = {
    val spans = tracer.spans
    def descendants(root: Span): Seq[Long] = {
      val kids = spans.filter(_.parent == root.id)
      root.id +: kids.flatMap(descendants)
    }
    def named(n: String) = spans.filter(_.name == n)
    val out = collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach(n => out(n) = 0.0)

    workload match {
      case w: ReindexWorkload =>
        val runs = named("reindex.run")
        val n = math.max(1, runs.size).toDouble
        val t = jobs.over(runs.flatMap(descendants))
        val docs = math.max(1L, traced.map(_.items).sum).toDouble
        out("sources.records_read_per_doc") = t.inputRecords / n / w.corpusSize
        out("kv.mget_calls") = Calls.count("kv.mget") / n
        out("kv.keys_per_doc") = Calls.counter("kv.keys") / docs
        out("kv.mget_p50_ms") = Calls.percentileMs("kv.mget", 0.50)
        out("kv.mget_p99_ms") = Calls.percentileMs("kv.mget", 0.99)
        out("kv.stub_busy_s") = mean(traced.map(_.layers.getOrElse("kv.stub_busy_s", 0.0)))
        out("sink.send_calls") = Calls.count("sink.send") / n
        out("sink.send_p50_ms") = Calls.percentileMs("sink.send", 0.50)
        out("sink.send_p99_ms") = Calls.percentileMs("sink.send", 0.99)
        out("sink.bytes_per_doc") = traced.map(_.layers.getOrElse("sink.bytes", 0.0)).sum / docs
        out("sink.dup_deliveries") = traced.map(_.layers.getOrElse("sink.dup_deliveries", 0.0)).sum
        out("sink.files") = mean(traced.map(_.layers.getOrElse("sink.files", 0.0)))
        out("sink.stub_busy_s") = mean(traced.map(_.layers.getOrElse("sink.stub_busy_s", 0.0)))
        out("reindex.jobs") = t.jobs / n
        out("reindex.stages") = t.stages / n
        out("reindex.tasks") = t.tasks / n
        out("reindex.executor_cpu_s") = t.cpuNs / 1e9 / n
        out("reindex.gc_s") = t.gcMs / 1e3 / n
        out("reindex.shuffle_write_bytes") = t.shuffleWriteBytes / n
        out("reindex.spill_bytes") = t.spillBytes / n
        out("reindex.cache_peak_bytes") = jobs.cachePeakBytes.toDouble
        out("reindex.sink_write_s") = Main.median(named("sink.write").map(_.seconds))
        out("reindex.run_self_s") = Main.median(runs.map(tracer.selfSeconds))

      case w: AnalyticsWorkload =>
        def group(qs: Seq[String]) =
          Main.median(untraced.map(it => qs.map(q => it.layers.getOrElse(s"wall.$q", 0.0)).sum))
        out("analytics.build_bound_s") = group(Analytics.buildBound.filter(w.queries.contains))
        out("analytics.execute_bound_s") = group(Analytics.executeBound.filter(w.queries.contains))
        w.queries.foreach { q =>
          def layer(l: String) = named(s"analytics.$q.$l")
          out(s"analytics.$q.build_s") = Main.median(layer("build").map(_.seconds))
          out(s"analytics.$q.catalyst_s") = Main.median(layer("catalyst").map(_.seconds))
          out(s"analytics.$q.execute_s") = Main.median(layer("execute").map(_.seconds))
          val passes = math.max(1, layer("build").size).toDouble
          out(s"analytics.$q.build_jobs") = jobs.over(layer("build").map(_.id)).jobs / passes
          out(s"analytics.$q.execute_jobs") = jobs.over(layer("execute").map(_.id)).jobs / passes
          out(s"analytics.$q.shuffle_bytes") =
            jobs.over(named(s"analytics.$q").flatMap(descendants)).shuffleWriteBytes / passes
        }
    }
    out.toMap
  }
}

package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One timed call into a layer of the program. `parent` is the id of
  * the span open on the calling thread when this one started (0 = root).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept in memory and written out
  * once, when the benchmark ends. While a span is open its id is also
  * set as a Spark local property, so every job submitted from inside
  * it is attributed to it by [[JobStats]].
  */
final class Tracer(val runId: String, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val parent = stack.headOption.getOrElse(0L)
    open.set(id :: stack)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, t0, System.nanoTime()))
      open.set(stack)
      sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.toString).orNull)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  /** One JSON object per line: the run id, then every span with its self time. */
  def write(path: java.nio.file.Path, jobs: JobStats): Unit = {
    val lines = spans.map { s =>
      val j = jobs.bySpan(s.id)
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
        f""""jobs":${j.jobs},"tasks":${j.tasks}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** Task-level counters summed over a set of jobs. */
final case class JobTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, inputRecords: Long = 0)

/** SparkListener that attributes every job, and the tasks of its
  * stages, to the span that was open when the job was submitted.
  */
final class JobStats extends SparkListener {
  private final class Acc {
    val jobs, stages, tasks, cpuNs, gcMs, shuffle, spill, input = new AtomicLong(0)
  }
  private val accs = new java.util.concurrent.ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val pending = new AtomicLong(0)
  private val blocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val cached, cachedPeak = new AtomicLong(0)

  private def acc(span: Long): Acc = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    acc(span).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    pending.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { pending.decrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => acc(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val a = acc(s)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.input.addAndGet(m.inputMetrics.recordsRead)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val size = info.memSize + info.diskSize
    val before = Option(if (size > 0) blocks.put(info.blockId.name, size) else blocks.remove(info.blockId.name))
    val now = cached.addAndGet(size - before.getOrElse(0L))
    cachedPeak.accumulateAndGet(now, (x, y) => x max y)
    ()
  }

  /** Peak bytes of cached blocks (memory + disk) seen while attached. */
  def cachePeakBytes: Long = cachedPeak.get

  private def totals(a: Acc): JobTotals = JobTotals(a.jobs.get, a.stages.get, a.tasks.get,
    a.cpuNs.get, a.gcMs.get, a.shuffle.get, a.spill.get, a.input.get)

  def bySpan(span: Long): JobTotals = Option(accs.get(span)).map(totals).getOrElse(JobTotals())

  /** Totals over a set of spans (e.g. a span and all its descendants). */
  def over(spans: Iterable[Long]): JobTotals = spans.map(bySpan).foldLeft(JobTotals()) { (x, y) =>
    JobTotals(x.jobs + y.jobs, x.stages + y.stages, x.tasks + y.tasks, x.cpuNs + y.cpuNs,
      x.gcMs + y.gcMs, x.shuffleWriteBytes + y.shuffleWriteBytes, x.spillBytes + y.spillBytes,
      x.inputRecords + y.inputRecords)
  }

  /** Starts listening; cached-block accounting starts from empty. */
  def attach(sc: SparkContext): Unit = {
    blocks.clear(); cached.set(0)
    sc.addSparkListener(this)
  }

  /** Stops listening once every started job's end event has arrived
    * (listener events are delivered asynchronously).
    */
  def detach(sc: SparkContext): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (pending.get > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(this)
  }
}

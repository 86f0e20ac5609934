package graftbench

import graft.sinks.UpdateTransport
import graft.sources.KvTransport
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-call latencies gathered from the timing wrappers. Tasks run in
  * the benchmark's JVM (local master), so the wrappers' closure copies
  * all report into this one registry.
  */
object Calls {
  private val samples = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  def record(name: String, ns: Long): Unit =
    samples.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]()).add(ns)

  def add(name: String, n: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong(0)).addAndGet(n)

  def count(name: String): Long = Option(samples.get(name)).map(_.size.toLong).getOrElse(0L)
  def counter(name: String): Long = Option(counters.get(name)).map(_.get).getOrElse(0L)

  /** Nearest-rank percentile of the recorded latencies, in ms (0 if none). */
  def percentileMs(name: String, p: Double): Double = {
    import scala.jdk.CollectionConverters._
    val xs = Option(samples.get(name)).map(_.asScala.toArray.sorted).getOrElse(Array.empty[Long])
    if (xs.isEmpty) 0.0
    else xs(math.min(xs.length - 1, math.max(0, math.ceil(p * xs.length).toInt - 1))) / 1e6
  }
}

/** Times every `mget` of the wrapped transport. */
final class TimedKvTransport(inner: KvTransport) extends KvTransport {
  override def name: String = inner.name
  override def mget(keys: Seq[String]): Seq[Option[String]] = {
    val t0 = System.nanoTime()
    try inner.mget(keys)
    finally { Calls.record("kv.mget", System.nanoTime() - t0); Calls.add("kv.keys", keys.size.toLong) }
  }
  override def ping(): Either[String, Unit] = inner.ping()
  override def close(): Unit = inner.close()
}

/** Times every `send` of the wrapped transport. */
final class TimedUpdateTransport(inner: UpdateTransport) extends UpdateTransport {
  override def send(batch: Seq[(String, String)]): Unit = {
    val t0 = System.nanoTime()
    try inner.send(batch) finally Calls.record("sink.send", System.nanoTime() - t0)
  }
}

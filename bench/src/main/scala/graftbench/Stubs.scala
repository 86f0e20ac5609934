package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

/** Loopback Redis stand-in speaking the RESP2 subset the program uses:
  * PING, SELECT and MGET over a fixed key -> value map. Each accepted
  * connection is served by one thread of a pool of at most `threads`.
  * `busyNs` sums the time spent handling commands.
  */
final class RespStub(entries: Map[String, String], threads: Int) extends AutoCloseable {
  private val server = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  val busyNs = new AtomicLong(0)
  @volatile private var running = true

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        conns.add(s)
        pool.execute(() => serve(s))
      } catch { case _: java.io.IOException => () }
    }
  }, "resp-stub-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def url: String = s"redis://127.0.0.1:${server.getLocalPort}/0"

  private def serve(s: Socket): Unit =
    try {
      val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
      val out = new BufferedOutputStream(s.getOutputStream)
      var args = readCommand(in)
      while (args != null) {
        val t0 = System.nanoTime()
        args.head.toUpperCase match {
          case "PING" => out.write("+PONG\r\n".getBytes(UTF_8))
          case "SELECT" => out.write("+OK\r\n".getBytes(UTF_8))
          case "MGET" =>
            val sb = new StringBuilder(s"*${args.length - 1}\r\n")
            args.iterator.drop(1).foreach { k =>
              entries.get(k) match {
                case Some(v) => sb.append('$').append(v.getBytes(UTF_8).length).append("\r\n").append(v).append("\r\n")
                case None => sb.append("$-1\r\n")
              }
            }
            out.write(sb.toString.getBytes(UTF_8))
          case other => out.write(s"-ERR unknown command '$other'\r\n".getBytes(UTF_8))
        }
        out.flush()
        busyNs.addAndGet(System.nanoTime() - t0)
        args = readCommand(in)
      }
    } catch { case _: java.io.IOException => () }
    finally { conns.remove(s); s.close() }

  private def readLine(in: DataInputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c != '\r') { sb.append(c.toChar); c = in.read(); if (c < 0) return null }
    in.read()
    sb.toString
  }

  /** One RESP array of bulk strings, or null at end of stream. */
  private def readCommand(in: DataInputStream): Array[String] = {
    val head = readLine(in)
    if (head == null) return null
    require(head.startsWith("*"), s"expected a RESP array, got '$head'")
    Array.fill(head.drop(1).toInt) {
      val len = readLine(in).drop(1).toInt
      val buf = new Array[Byte](len)
      in.readFully(buf); in.read(); in.read()
      new String(buf, UTF_8)
    }
  }

  override def close(): Unit = {
    running = false
    server.close()
    conns.forEach(s => s.close())
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    acceptor.join(10000)
  }
}

/** Loopback Solr stand-in: accepts POST {base}/update/json/docs with an
  * NDJSON body and records, per doc, its id and authority. The first
  * batch's arrival time is kept so the benchmark can report how soon
  * the first documents reach the index.
  */
final class SolrStub(threads: Int) extends AutoCloseable {
  private val server = com.sun.net.httpserver.HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  private val json = new JsonFactory()
  val busyNs = new AtomicLong(0)
  val bytes = new AtomicLong(0)
  val firstBatchNs = new AtomicLong(0)
  /** id -> (deliveries, authority of the last delivery) */
  val docs = new ConcurrentHashMap[String, (Int, String)]()

  server.setExecutor(pool)
  server.createContext("/solr/bench/update/json/docs", ex => {
    val t0 = System.nanoTime()
    try {
      val body = ex.getRequestBody.readAllBytes()
      bytes.addAndGet(body.length.toLong)
      firstBatchNs.compareAndSet(0L, t0)
      // the body is a sequence of JSON objects; only each one's id and
      // authority are kept, every other field is skipped unparsed
      val p = json.createParser(body)
      while (p.nextToken() == JsonToken.START_OBJECT) {
        var (id, auth) = (null: String, null: String)
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val field = p.getCurrentName
          p.nextToken()
          field match {
            case "id" => id = p.getText
            case "authority" => auth = if (p.currentToken == JsonToken.VALUE_NULL) null else p.getText
            case _ => p.skipChildren()
          }
        }
        docs.merge(id, (1, auth), (a, b) => (a._1 + b._1, b._2))
      }
      ex.sendResponseHeaders(200, -1)
    } catch {
      case _: Exception => ex.sendResponseHeaders(500, -1)
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/solr/bench"

  def reset(): Unit = {
    docs.clear(); bytes.set(0); firstBatchNs.set(0); busyNs.set(0)
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}

package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded reindex corpus. Doc `i` has id `i.toString` (the program
  * compares ids as strings); its owner, its content and whether that
  * content is malformed are pure functions of (seed, i), so nothing
  * per doc is held in memory and tasks regenerate docs on their own.
  * The authority map holds about `kvShare` of the owners.
  */
final class Corpus(val kind: String, val seed: Long, val size: Int, ownerCount: Int,
                   malformedShare: Double, kvShare: Double) extends Serializable {
  val owners: IndexedSeq[String] = (0 until ownerCount).map(o => f"own$o%05d")
  val authorities: Map[String, String] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    owners.filter(_ => r.nextDouble() < kvShare).map(o => o -> s"auth:$o:${Corpus.word(r)}").toMap
  }

  private def rng(i: Int): SplittableRandom = new SplittableRandom(seed * 1000003L + i)

  def owner(i: Int): String = owners(rng(i).nextInt(ownerCount))

  def malformed(i: Int): Boolean = { val r = rng(i); r.nextInt(ownerCount); r.nextDouble() < malformedShare }

  /** Document content. Malformed content is the record cut off mid-way,
    * so the JSON never closes.
    */
  def content(i: Int): String = {
    val r = rng(i)
    r.nextInt(ownerCount)
    val bad = r.nextDouble() < malformedShare
    val json = if (kind == "bulk") Corpus.argotRecord(i, r) else Corpus.smallRecord(r)
    if (bad) json.substring(0, json.length / 2) else json
  }

  /** Writes the corpus as the parquet document fixture the program's
    * ParquetDocSource reads (doc_id, source, text).
    */
  def writeParquet(spark: SparkSession, path: String, files: Int): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType),
      StructField("text", StringType)))
    val self = this
    val rows = spark.sparkContext.parallelize(0 until size, files)
      .map(i => Row(i.toLong, self.owner(i), self.content(i)))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)
  }

  /** Digest of every generated record, for the determinism check. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until size).foreach { i =>
      md.update(s"$i\t${owner(i)}\t${content(i)}\n".getBytes("UTF-8"))
    }
    authorities.toSeq.sorted.foreach { case (k, v) => md.update(s"$k=$v\n".getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Corpus {
  private val words = Array(
    "archive", "binding", "catalog", "dossier", "edition", "folio", "gazette", "herbal",
    "index", "journal", "ledger", "manual", "notebook", "octavo", "pamphlet", "quarto",
    "register", "serial", "treatise", "volume", "atlas", "bulletin", "codex", "digest")

  def word(r: SplittableRandom): String = words(r.nextInt(words.length))
  private def phrase(r: SplittableRandom, n: Int): String = Seq.fill(n)(word(r)).mkString(" ")
  private def q(s: String): String = "\"" + s + "\""

  /** About 1 KB of Argot-style JSON: nested objects, arrays of objects,
    * and int, float and bool leaves.
    */
  def argotRecord(i: Int, r: SplittableRandom): String = {
    val names = (0 until 2 + r.nextInt(3)).map { _ =>
      s"""{"name":${q(phrase(r, 2))},"type":${q(word(r))},"rel":[${q(word(r))},${q(word(r))}]}"""
    }.mkString(",")
    val subjects = (0 until 3 + r.nextInt(4)).map(_ => q(phrase(r, 2))).mkString(",")
    val items = (0 until 1 + r.nextInt(3)).map { k =>
      s"""{"barcode":${r.nextInt(1000000)},"loc":{"lib":${q(word(r))},"shelf":${q(phrase(r, 2))}},""" +
        s""""copies":${r.nextInt(9)},"circulates":${r.nextBoolean()},"seq":$k}"""
    }.mkString(",")
    s"""{"id":${q("rec" + i)},"title":[{"value":${q(phrase(r, 6))},"lang":"en"}],""" +
      s""""names":[$names],"imprint":{"publisher":${q(phrase(r, 3))},"place":${q(word(r))},""" +
      s""""year":${1800 + r.nextInt(225)}},"subjects":[$subjects],"items":[$items],""" +
      s""""price":${r.nextInt(100000) / 100.0},"available":${r.nextBoolean()},""" +
      s""""notes":[${q(phrase(r, 10))},${q(phrase(r, 8))}],"rank":${r.nextDouble()}}"""
  }

  /** About 50 B of flat JSON. */
  def smallRecord(r: SplittableRandom): String =
    s"""{"t":${q(word(r))},"n":${r.nextInt(100000)},"b":${r.nextBoolean()}}"""

  /** `reindex_bulk`: about 1 KB docs, 500 owners, 80% of them known to the store. */
  def bulk(seed: Long, size: Int): Corpus = new Corpus("bulk", seed, size, 500, 0.005, 0.8)

  /** `reindex_resume`: about 50 B docs, one owner per ten docs, 80% known. */
  def resume(seed: Long, size: Int): Corpus = new Corpus("resume", seed, size, math.max(1, size / 10), 0.005, 0.8)

  /** A resume point that keeps about half of the ids of a corpus whose ids
    * run 0..size-1: "5" followed by two seeded digits below 20.
    */
  def startId(seed: Long): String = f"5${new SplittableRandom(seed ^ 0x57a27L).nextInt(20)}%02d"
}

/** What the sink ended up holding, gathered from outside the program. */
final case class Delivered(
    docs: collection.Map[String, (Int, String)],
    written: Long, softErrors: Long, checkpoint: Option[String])

/** Result of checking one reindex run against its corpus. */
final case class Check(attempted: Long, failed: Long, dupDeliveries: Long, problems: Seq[String]) {
  def ok: Boolean = failed == 0
}

object Checker {
  /** Every doc with id >= startId (asciibetical) that parses must be in
    * the sink exactly as expected: present, enriched with the store's
    * authority for its owner (null when the store has none), counted
    * once in `written`; the malformed ones are counted as soft errors;
    * the checkpoint is the largest delivered id. A doc counts as failed
    * if it is missing, unexpected, wrongly enriched, or miscounted.
    */
  def check(c: Corpus, startId: String, d: Delivered): Check = {
    val inRange = (0 until c.size).iterator.filter(i => i.toString >= startId).toArray
    val expected = inRange.filterNot(c.malformed)
    val expectedSoft = inRange.length - expected.length
    val problems = Seq.newBuilder[String]
    var failed = 0L
    def fail(n: Long, what: => String): Unit = if (n != 0) { failed += math.abs(n); problems += what }

    val expectedIds = expected.iterator.map(_.toString).toSet
    val missing = expectedIds.count(id => !d.docs.contains(id))
    fail(missing, s"$missing docs missing from the sink")
    val extra = d.docs.keysIterator.count(id => !expectedIds.contains(id))
    fail(extra, s"$extra unexpected docs in the sink")
    val wrongAuth = expected.count { i =>
      d.docs.get(i.toString).exists { case (_, auth) => auth != c.authorities.get(c.owner(i)).orNull }
    }
    fail(wrongAuth, s"$wrongAuth docs enriched with the wrong authority")
    fail(d.written - expected.length, s"written=${d.written}, expected ${expected.length}")
    fail(d.softErrors - expectedSoft, s"softErrors=${d.softErrors}, expected $expectedSoft")
    val cp = expectedIds.maxOption
    fail(if (d.checkpoint == cp) 0 else 1, s"checkpoint=${d.checkpoint}, expected $cp")
    val dups = d.docs.valuesIterator.map(v => (v._1 - 1).toLong).sum
    Check(inRange.length.toLong, failed, dups, problems.result())
  }

  /** Reads an NDJSON sink directory: doc id -> (lines with that id, authority). */
  def readNdjsonDir(dir: String): (collection.Map[String, (Int, String)], Int) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = collection.mutable.HashMap.empty[String, (Int, String)]
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    files.foreach { f =>
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) { src =>
        src.getLines().filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          val auth = Option(node.get("authority")).filter(!_.isNull).map(_.asText).orNull
          val id = node.get("id").asText
          out.update(id, out.get(id).map(p => (p._1 + 1, auth)).getOrElse((1, auth)))
        }
      }
    }
    (out, files.length)
  }
}

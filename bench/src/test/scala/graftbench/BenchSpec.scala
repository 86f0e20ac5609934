package graftbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the same seed produces the same corpus bytes; another seed does not") {
    for (make <- Seq(Corpus.bulk _, Corpus.resume _)) {
      assert(make(7L, 2000).digest == make(7L, 2000).digest)
      assert(make(7L, 2000).digest != make(8L, 2000).digest)
    }
    assert(Corpus.startId(7L) == Corpus.startId(7L))
  }

  test("corpora have the documented shape") {
    val bulk = Corpus.bulk(3L, 4000)
    val avg = (0 until bulk.size).map(bulk.content(_).length).sum / bulk.size
    assert(avg > 700 && avg < 1300, s"bulk docs average $avg chars")
    val bad = (0 until bulk.size).count(bulk.malformed)
    assert(bad > 0 && bad < 60, s"$bad malformed of ${bulk.size}")
    assert(bulk.authorities.size > 350 && bulk.authorities.size < 450)
    val small = Corpus.resume(3L, 4000)
    val smallAvg = (0 until small.size).map(small.content(_).length).sum / small.size
    assert(smallAvg > 30 && smallAvg < 70, s"resume docs average $smallAvg chars")
    (0 until 200).filterNot(bulk.malformed).foreach { i =>
      assert(graft.functions.ArgotFlatten.flattenEither(bulk.content(i)).isRight)
    }
    (0 until bulk.size).filter(bulk.malformed).foreach { i =>
      assert(graft.functions.ArgotFlatten.flattenEither(bulk.content(i)).isLeft)
    }
  }

  /** What a correct run of `c` from `startId` delivers. */
  private def exact(c: Corpus, startId: String): Delivered = {
    val inRange = (0 until c.size).filter(_.toString >= startId)
    val ok = inRange.filterNot(c.malformed)
    val docs = ok.map(i => i.toString -> (1, c.authorities.get(c.owner(i)).orNull)).toMap
    Delivered(docs, ok.size.toLong, (inRange.size - ok.size).toLong, docs.keys.maxOption)
  }

  test("the checker accepts an exact delivery and rejects each kind of fault") {
    val c = Corpus.resume(5L, 3000)
    val start = Corpus.startId(5L)
    val good = exact(c, start)
    assert(Checker.check(c, start, good).ok)
    assert(Checker.check(c, start, good).attempted == (0 until c.size).count(_.toString >= start))

    val dropped = good.docs.keys.min
    val missing = good.copy(docs = good.docs.toMap - dropped)
    assert(Checker.check(c, start, missing).failed >= 1)

    val known = good.docs.collectFirst { case (id, (_, a)) if a != null => id }.get
    val wrongAuth = good.copy(docs = good.docs.toMap.updated(known, (1, "auth:someone-else")))
    assert(Checker.check(c, start, wrongAuth).failed == 1)

    val doubleSoft = good.copy(softErrors = good.softErrors + 1)
    assert(Checker.check(c, start, doubleSoft).failed == 1)

    val undercount = good.copy(written = good.written - 1)
    assert(Checker.check(c, start, undercount).failed == 1)

    val badCheckpoint = good.copy(checkpoint = Some("0"))
    assert(Checker.check(c, start, badCheckpoint).failed == 1)

    val resent = good.copy(docs = good.docs.toMap.updated(known, (2, good.docs(known)._2)))
    val r = Checker.check(c, start, resent)
    assert(r.ok && r.dupDeliveries == 1)
  }

  test("every analytics query is registered with an oracle") {
    assert(Analytics.all.size == 10 && Analytics.all.distinct.size == 10)
    Analytics.all.foreach { q =>
      assert(graft.SparkEntry.queries.contains(q), q)
      assert(graft.SparkEntry.oracleSql.contains(q), q)
    }
  }

  test("every per-layer name has a unit and appears once") {
    assert(Layers.names.distinct.size == Layers.names.size)
    assert(Layers.names.size <= 128)
    Layers.names.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "BENCHMARK.json sits at the root of the repository")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def entries(key: String) = {
      val it = root.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    assert(entries("per_layer").map(m => m.get("name").asText -> m.get("unit").asText) ==
      Layers.names.map(n => n -> Layers.unit(n)))
    assert(entries("end_to_end").map(m => m.get("name").asText -> m.get("unit").asText).toSet == Main.endToEnd.toSet)
    assert(entries("workloads").map(_.get("name").asText) == Main.workloads)
  }
}

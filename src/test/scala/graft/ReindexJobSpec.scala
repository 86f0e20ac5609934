package graft

import graft.config.ReindexConfig
import graft.operators.{ReindexJob, SkewJoin, Similarity}
import graft.sinks.NdjsonDirSink
import graft.sources.{DocSource, InMemoryKvTransport, JdbcDocSource, KvAuthorityStore,
  ParquetDocSource}
import graft.util.Lockfile
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The composed pipeline (SURVEY §3.1 lifecycle) plus the remaining
  * source/scale utilities.
  */
class ReindexJobSpec extends SparkSuite {
  import spark.implicits._

  // authorities=false: these cases exercise the core pipeline; the
  // authority-enrichment path has its own cases below
  private def conf =
    ReindexConfig(password = "pw", solrUrl = "http://x", authorities = false)

  /** 500 well-formed Argot-JSON docs, ids "0".."499" (asciibetical max
    * is "99"), written once per suite.
    */
  private lazy val jsonCorpus: String = {
    val dir = Files.createTempDirectory("graft-corpus").toString + "/docs.parquet"
    (0 until 500).map(i => (i.toString, s"src${i % 5}", s"""{"title":"doc $i","n":$i}"""))
      .toDF("doc_id", "source", "text").write.parquet(dir)
    dir
  }

  test("e2e: parquet source → flatten → chunked ndjson sink → checkpoint") {
    val out = Files.createTempDirectory("graft-job")
    val lock = Lockfile.default(out.toString)
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val r = ReindexJob.run(spark, conf, new ParquetDocSource(jsonCorpus), sink, lock)
    assert(r.isRight, r)
    val res = r.toOption.get
    assert(res.docsWritten == 500)
    assert(res.softErrors == 0)
    assert(res.checkpoint.contains("99"))
    assert(!Files.exists(lock.path), "lock must be released")
  }

  test("malformed-content docs are SKIPPED, not indexed: written + softErrors = scanned") {
    val out = Files.createTempDirectory("graft-skip")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    // the fixture's text is prose, not JSON → every doc is a soft error,
    // counted EXACTLY once (the sink's range-partition sampling
    // evaluates the plan twice; an accumulator would report 1000) and
    // NOT written
    val r = ReindexJob.run(spark, conf, new ParquetDocSource(s"$sf/documents.parquet"),
      sink, Lockfile.default(out.toString))
    val res = r.toOption.get
    assert(res.docsWritten == 0)
    assert(res.softErrors == 500)
    assert(res.errorSamples.nonEmpty && res.errorSamples.size <= 5)
    assert(res.checkpoint.isEmpty, "no docs indexed → no checkpoint")
  }

  test("soft errors: only malformed content counts, and exactly once") {
    val out = Files.createTempDirectory("graft-job5")
    val src = out.toString + "/docs.parquet"
    // 8 valid Argot JSON docs + 2 malformed ones
    (0 until 10).map(i =>
        (i.toString, "fixture",
         if (i % 5 == 4) s"{broken $i" else s"""{"title":"doc $i","n":$i}"""))
      .toDF("doc_id", "source", "text").write.parquet(src)
    val sink = new NdjsonDirSink(out.toString + "/out", chunkSize = 3)
    val r = ReindexJob.run(spark, conf, new ParquetDocSource(src), sink,
      Lockfile.default(out.toString))
    val res = r.toOption.get
    assert(res.docsWritten == 8, "malformed docs are skipped, not written")
    assert(res.softErrors == 2, res)
    assert(res.errorSamples.exists(_.contains("doc 4:")))
  }

  test("each source row is evaluated exactly once per run, with and without a store") {
    val out = Files.createTempDirectory("graft-once")
    val src = out.toString + "/docs.parquet"
    // 90 valid docs + 10 malformed: the sink, the soft-error count and
    // the samples all have rows to read
    (0 until 100).map(i =>
        (i.toString, s"src${i % 4}",
         if (i % 10 == 7) s"{broken $i" else s"""{"title":"doc $i","n":$i}"""))
      .toDF("doc_id", "source", "text").write.parquet(src)
    // counts every evaluation of a source row: a row read by two passes
    // (a second scan, or an uncached re-execution) counts twice
    def metered(acc: org.apache.spark.util.LongAccumulator): DocSource = new DocSource {
      override def name: String = "metered"
      override def load(s: org.apache.spark.sql.SparkSession) = {
        val a = acc // a local, so the closure does not drag in this source
        new ParquetDocSource(src).load(s)
          .as[(String, String, String, String)]
          .map { t => a.add(1); t }
          .toDF("id", "txn_id", "owner", "content")
      }
      override def healthCheck(): Either[String, Unit] = Right(())
    }
    val store = new KvAuthorityStore(new InMemoryKvTransport(Map("src0" -> "Zero")))
    Seq(("no-store", conf, None), ("kv-store", conf.copy(authorities = true), Some(store)))
      .foreach { case (label, c, st) =>
        val evals = spark.sparkContext.longAccumulator(s"evals-$label")
        val sink = new NdjsonDirSink(s"$out/out-$label", chunkSize = 30)
        val r = ReindexJob.run(spark, c, metered(evals), sink,
          Lockfile.default(out.toString), None, st).toOption.get
        assert(r.docsWritten == 90 && r.softErrors == 10, s"$label: $r")
        assert(r.errorSamples.size == 5 && r.errorSamples.head.startsWith("doc 17:"), label)
        assert(evals.value == 100L,
          s"$label: source rows evaluated ${evals.value / 100.0}x per run; expected 1x")
      }
  }

  test("CLI main: config → pipeline → exit code reflects soft errors (B10 fix)") {
    val out = Files.createTempDirectory("graft-main")
    val src = out.toString + "/docs.parquet"
    (0 until 20).map(i => (i.toString, "fix", s"""{"t":"d$i"}"""))
      .toDF("doc_id", "source", "text").write.parquet(src)
    def cfg(name: String, sourcePath: String): String = {
      val p = out.resolve(s"$name.json")
      Files.writeString(p,
        s"""{"password":"pw","solrUrl":"file:$out/sink-$name","chunkSize":10,
           |"workers":2,"sourcePath":"$sourcePath","authorities":false}""".stripMargin)
      p.toString
    }
    // clean run: all-JSON content → exit 0, chunked output present
    assert(ReindexMain.run(Seq(cfg("ok", src))) == 0)
    assert(new java.io.File(s"$out/sink-ok").listFiles().exists(_.getName.endsWith(".json")))
    // bad config → exit 2
    val bad = out.resolve("bad.json")
    Files.writeString(bad, """{"password":"","solrUrl":"x"}""")
    assert(ReindexMain.run(Seq(bad.toString)) == 2)
    // missing source → preflight refusal, exit 1
    assert(ReindexMain.run(Seq(cfg("gone", "/no/such.parquet"))) == 1)
  }

  test("CLI main: prose content completes with exit 3 and exact soft-error count") {
    val out = Files.createTempDirectory("graft-main3")
    val p = out.resolve("config.json")
    Files.writeString(p,
      s"""{"password":"pw","solrUrl":"file:$out/sink","chunkSize":100,
         |"workers":2,"sourcePath":"$sf/documents.parquet",
         |"authorities":false}""".stripMargin)
    assert(ReindexMain.run(Seq(p.toString)) == 3)
  }

  test("preflight failure aborts before any work (O13)") {
    val out = Files.createTempDirectory("graft-job2")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val source = new ParquetDocSource("/no/such/path.parquet")
    val r = ReindexJob.run(spark, conf, source, sink, Lockfile.default(out.toString))
    assert(r.isLeft)
    assert(r.left.toOption.get.exists(_.contains("missing")))
  }

  test("held lock refuses a second run (O12)") {
    val out = Files.createTempDirectory("graft-job3")
    val lock = Lockfile.default(out.toString)
    assert(lock.acquire())
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val source = new ParquetDocSource(s"$sf/documents.parquet")
    val r = ReindexJob.run(spark, conf, source, sink, lock)
    assert(r.isLeft)
    assert(r.left.toOption.get.exists(_.contains("another reindex")))
    lock.release()
  }

  test("resume: job from checkpoint writes exactly the asciibetical tail") {
    val out = Files.createTempDirectory("graft-job4")
    val sink = new NdjsonDirSink(out.toString + "/docs", chunkSize = 100)
    val source = new ParquetDocSource(jsonCorpus, startId = "495")
    val r = ReindexJob.run(spark, conf, source, sink, Lockfile.default(out.toString))
    // ids >= "495" asciibetically: 495..499, 5, 50..59, ... compute exact
    val expected = (0 until 500).map(_.toString).count(_ >= "495")
    assert(r.toOption.get.docsWritten == expected)
  }

  test("jdbc source: partitioned reader config + pushdown-ready subquery (O1)") {
    val s = new JdbcDocSource(conf.copy(dbHost = "nope.invalid"), numPartitions = 12)
    assert(s.dbtable.contains("% 12) AS graft_part"))
    // the USER query is the scan (B2 end-to-end): default query text inside
    assert(s.dbtable.contains(graft.config.ReindexConfig.DefaultQuery))
    // no database in this environment: health check must fail fast, not hang
    assert(s.healthCheck().isLeft)
  }

  test("jdbc source: custom query + resume predicate land inside dbtable (B2/B3)") {
    val custom = conf.copy(
      query = "select id, txn_id, owner, content from docs_v2 WHERE NOT deleted",
      startId = "doc-042")
    val s = new JdbcDocSource(custom, numPartitions = 8)
    // the configured query replaces the default scan...
    assert(s.dbtable.contains("from docs_v2"))
    assert(!s.dbtable.contains("from documents"))
    // ...and the resume splice is INSIDE the server-side subquery
    assert(s.dbtable.contains("NOT deleted AND id >= 'doc-042'"))
    // hashtext() is Postgres-only: a non-Postgres URL without an explicit
    // partition expression must refuse loudly, not emit broken SQL
    val derbyish = custom.copy(jdbcUrlOverride = "jdbc:derby:memory:x")
    intercept[IllegalArgumentException](new JdbcDocSource(derbyish).dbtable)
    val withExpr = new JdbcDocSource(derbyish, numPartitions = 4,
      partitionExpr = Some("MOD(CAST(id AS INT), 4)"))
    assert(withExpr.dbtable.contains("MOD(CAST(id AS INT), 4)"))
  }

  test("salted join: same rows as the plain join, salt spread over fact side") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val dim = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = fact.join(dim, "l_partkey").count()
    val salted = SkewJoin.saltedJoin(fact, dim, "l_partkey", salt = 4).count()
    assert(salted == plain)
  }

  test("advised salted join: salt comes from the q263 closed form, dim replicates salt-x, result unchanged") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val dim = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val parts = 4096
    // the advisor's 1-row frame vs the closed form recounted directly
    val advised = SkewJoin.advisedSalt(fact, "l_partkey", parts)
      .collect()(0).getLong(0)
    val hist = fact.groupBy("l_partkey").count()
      .agg(sum("count").as("n"), max("count").as("mx")).collect()(0)
    val (n, mx) = (hist.getLong(0), hist.getLong(1))
    val expected = math.max(1L, (mx * parts + n - 1) / n)
    assert(advised == expected, s"advised $advised vs closed form $expected")
    assert(advised > 1L, "at 4096 reducers the fixture's heaviest part key needs salting")
    // the dim side replicates exactly salt_n times inside the join
    val dimReplicated = dim.crossJoin(
        org.apache.spark.sql.functions.broadcast(
          SkewJoin.advisedSalt(fact, "l_partkey", parts)))
      .withColumn("__salt", explode(sequence(lit(0L), col("__salt_n") - 1)))
      .count()
    assert(dimReplicated == dim.count() * advised, "dim replication factor = advised salt")
    // and the salt stays invisible in the result
    val plain = fact.join(dim, "l_partkey").count()
    assert(SkewJoin.advisedSaltedJoin(fact, dim, "l_partkey", parts).count() == plain)
  }

  test("SQL surface: graft_dot/graft_norm registered functions match the Column API") {
    graft.plans.RegisterFunctions(spark)
    Tables.embeddings(spark, sf).limit(50).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_norm(embedding) AS n, graft_dot(embedding, embedding) AS d FROM emb_sql")
      .select("vec_id", "n", "d").as[(Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val viaCol = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("n"),
        graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
      .as[(Long, Double, Double)].collect()
    viaCol.foreach { case (id, n, d) =>
      assert(viaSql(id) == ((n, d)), s"vec $id mismatch")
    }
  }

  test("SQL surface: graft_winnow/graft_minhashes registered functions match the Column API") {
    graft.plans.RegisterFunctions(spark)
    Tables.documents(spark, sf).limit(20).createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_winnow(text, 8, 4) AS w, graft_minhashes(text, 3, 8) AS m FROM docs_sql")
      .as[(Long, Seq[Long], Seq[Long])].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val viaCol = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"),
        graft.functions.TextFunctions.winnowFingerprints(col("text"), 8, 4).as("w"),
        graft.functions.TextFunctions.minHashes(col("text"), 3, 8).as("m"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    viaCol.foreach { case (id, w, m) => assert(viaSql(id) == ((w, m)), s"doc $id") }
  }

  test("topK aggregator matches the window formulation exactly") {
    val agg = Similarity.topKAggregated(spark, sf, numProbes = 3, k = 5)
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val win = Similarity.bruteForceTopK(spark, sf, numProbes = 3, k = 5)
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(agg == win)
  }
}

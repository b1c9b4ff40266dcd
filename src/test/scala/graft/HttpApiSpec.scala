package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.FeatureRow
import graft.serve.{FeatureStore, HttpApi, ParquetBackend}

/** The HTTP serving layer end-to-end: real sockets, real requests —
  * the reference's FastAPI route surface (`back_end/app/main.py`,
  * `app/routes/feature.py`) exercised over the wire against a parquet
  * offline store. JDK HttpClient on an ephemeral port; no mocks.
  */
class HttpApiSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def row(cc: Long, amt: Double, at: String, fraud: Int) =
    FeatureRow(cc, amt, 10, 2, 33.5, 12.0, 1, amt, "grocery", "F", 1000, ts(at), fraud)

  private lazy val storePath = {
    val p = java.nio.file.Files.createTempDirectory("graft_http_").toString + "/offline"
    Seq(
      row(1L, 10.0, "2024-01-01 10:00:00", 0),
      row(1L, 20.0, "2024-01-02 11:00:00", 0),
      row(1L, 30.0, "2024-01-03 12:00:00", 1),
      row(2L, 40.0, "2024-01-02 09:00:00", 0)
    ).toDS().toDF().write.parquet(p)
    p
  }

  private lazy val api = {
    val a = new HttpApi(spark, new FeatureStore(spark, storePath))
    a.start()
    a
  }
  private lazy val base = s"http://127.0.0.1:${api.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def countRows(json: String): Int =
    "\"cc_num\"".r.findAllIn(json).length

  private def newStorePath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/offline"

  private def withApi[A](store: FeatureStore)(body: String => A): A = {
    val a = new HttpApi(spark, store)
    a.start()
    try body(s"http://127.0.0.1:${a.boundPort}") finally a.stop()
  }

  private def getAt(b: String, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(b + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def rowJson(cc: Long, amt: Double, at: String): String =
    s"""{"cc_num":$cc,"amt":$amt,"hour_of_day":9,"day_of_week":1,"age_at_txn":40.0,""" +
      s""""distance_to_merchant":3.2,"txn_count_last_10_min":1,"avg_amt_last_1_hour":$amt,""" +
      s""""category":"travel","gender":"M","city_pop":500,"feature_timestamp":"$at","is_fraud":0}"""

  /** Jobs started, stages that wrote shuffle output, input records
    * read, and SQL executions started, while it is registered. */
  private final class JobRecorder extends SparkListener {
    val jobs = new AtomicInteger
    val shuffleStages = new AtomicInteger
    val recordsRead = new java.util.concurrent.atomic.AtomicLong
    val executions = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
        shuffleStages.incrementAndGet()
      recordsRead.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
  }

  private def recording(body: => Unit): JobRecorder = {
    val sc = spark.sparkContext
    ListenerDrain(sc) // earlier events must not reach the new listener
    val r = new JobRecorder
    sc.addSparkListener(r)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(r)
    r
  }

  test("health endpoint answers") {
    val r = get("/health")
    assert(r.statusCode() == 200 && r.body().contains("\"ok\""))
  }

  test("GET /features bulk with limit cap") {
    val all = get("/features")
    assert(all.statusCode() == 200 && countRows(all.body()) == 4)
    val two = get("/features?limit=2")
    assert(countRows(two.body()) == 2)
  }

  test("GET /features/by-ccnum/{cc} point lookup") {
    val r = get("/features/by-ccnum/1")
    assert(r.statusCode() == 200 && countRows(r.body()) == 3)
    assert(!r.body().contains("\"cc_num\":2"))
    val bad = get("/features/by-ccnum/notanumber")
    assert(bad.statusCode() == 400 && bad.body().contains("integer"))
  }

  test("GET /features/by-date inclusive day bounds") {
    val r = get("/features/by-date?start=2024-01-02&end=2024-01-03")
    assert(r.statusCode() == 200 && countRows(r.body()) == 3)
    val missing = get("/features/by-date?start=2024-01-02")
    assert(missing.statusCode() == 400 && missing.body().contains("end"))
    val malformed = get("/features/by-date?start=02-01-2024&end=2024-01-03")
    assert(malformed.statusCode() == 400)
  }

  test("GET /transactions/{cc}/recent top-k newest-first") {
    val r = get("/transactions/1/recent?k=2")
    assert(r.statusCode() == 200 && countRows(r.body()) == 2)
    // newest (30.0 on Jan 3) must appear before 20.0 (Jan 2)
    val b = r.body()
    assert(b.indexOf("30.0") >= 0 && b.indexOf("30.0") < b.indexOf("20.0"))
  }

  test("POST /features ingests JSON lines and the rows become queryable") {
    val newRow =
      """{"cc_num":3,"amt":55.5,"hour_of_day":9,"day_of_week":1,
        |"age_at_txn":40.0,"distance_to_merchant":3.2,
        |"txn_count_last_10_min":1,"avg_amt_last_1_hour":55.5,
        |"category":"travel","gender":"M","city_pop":500,
        |"feature_timestamp":"2024-02-01T08:00:00.000Z","is_fraud":0}"""
        .stripMargin.replace("\n", "")
    val r = post("/features", newRow)
    assert(r.statusCode() == 201 && r.body().contains("\"ingested\":1"))
    val back = get("/features/by-ccnum/3")
    assert(countRows(back.body()) == 1 && back.body().contains("55.5"))
  }

  test("POST /features rejects a malformed body as 400, not a poisoned table") {
    val before = countRows(get("/features").body())
    val r = post("/features", """{"cc_num": this is not json}""")
    assert(r.statusCode() == 400)
    assert(countRows(get("/features").body()) == before)
  }

  test("POST /features rejects rows with absent fields (FAILFAST alone parses them to null)") {
    val before = countRows(get("/features").body())
    val r = post("/features", """{"cc_num":99,"amt":1.0}""")
    assert(r.statusCode() == 400, s"got ${r.statusCode()}: ${r.body()}")
    assert(r.body().contains("missing"), r.body())
    assert(countRows(get("/features").body()) == before)
    assert(countRows(get("/features/by-ccnum/99").body()) == 0)
  }

  test("chunked streaming: full-cap responses on all 4 handler threads concurrently") {
    // a dedicated store with a response at the maxRows cap on all four
    // handler threads at once: the driver holds each response's rows
    // whole (maxRows of them, four times over) while the body goes out
    // in chunks, and every concurrent response must still arrive
    // complete and valid
    val bigPath = java.nio.file.Files.createTempDirectory("graft_http_big_").toString + "/offline"
    val n = 20000
    (0 until n).map(i => row(1000L + i % 50, i.toDouble, "2024-03-01 10:00:00", 0))
      .toDS().toDF().repartition(8).write.parquet(bigPath)
    val bigApi = new HttpApi(spark, new FeatureStore(spark, bigPath), maxRows = n)
    bigApi.start()
    try {
      val b = s"http://127.0.0.1:${bigApi.boundPort}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futures = (1 to 4).map { _ =>
          pool.submit(new java.util.concurrent.Callable[(Int, Int, Boolean)] {
            override def call(): (Int, Int, Boolean) = {
              val r = HttpClient.newHttpClient().send(
                HttpRequest.newBuilder(URI.create(b + s"/features?limit=$n")).GET().build(),
                HttpResponse.BodyHandlers.ofString())
              val body = r.body()
              (r.statusCode(), countRows(body),
                body.startsWith("[") && body.endsWith("]"))
            }
          })
        }
        futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).foreach {
          case (status, rows, wellFormed) =>
            assert(status == 200 && rows == n && wellFormed,
              s"concurrent full-cap response: status=$status rows=$rows ok=$wellFormed")
        }
      } finally pool.shutdown()
    } finally bigApi.stop()
  }

  test("concurrent POST /features to one store all land") {
    val p = newStorePath("graft_http_ingest_")
    Seq(row(1L, 10.0, "2024-01-01 10:00:00", 0)).toDS().toDF().write.parquet(p)
    withApi(new FeatureStore(spark, p)) { b =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        // unserialized appends to one directory fail only now and then
        // (one write's commit deletes the shared `_temporary` under
        // another); five rounds of four parallel ingests hit that on
        // every run without the per-path write lock
        (0 until 5).foreach { round =>
          val before = spark.read.parquet(p).count()
          val futures = (0 until 4).map { t =>
            val body = (0 until 20).map(i => rowJson(500L + 4 * round + t, i.toDouble,
              f"2024-04-01T10:$i%02d:00.000Z")).mkString("\n")
            pool.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
              override def call(): HttpResponse[String] = client.send(
                HttpRequest.newBuilder(URI.create(b + "/features"))
                  .header("Content-Type", "application/json")
                  .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
                HttpResponse.BodyHandlers.ofString())
            })
          }
          futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).foreach { r =>
            assert(r.statusCode() == 201 && r.body().contains("\"ingested\":20"),
              s"round $round: ${r.body()}")
          }
          assert(spark.read.parquet(p).count() == before + 80, s"round $round")
        }
      } finally pool.shutdown()
    }
  }

  test("warm lookups build without a job and serve without a shuffle") {
    val fs = new FeatureStore(spark, storePath)
    fs.byCcNum(1L).collect() // the first read resolves the store's schema for every reader
    val build = recording {
      fs.byCcNum(1L); fs.topKRecent(1L, 2); fs.byDateRange("2024-01-02", "2024-01-03")
    }
    assert(build.jobs.get == 0, "building a lookup DataFrame ran a job")
    val serve = recording {
      Seq("/features/by-ccnum/1", "/transactions/1/recent?k=2",
        "/features/by-date?start=2024-01-02&end=2024-01-03").foreach { p =>
        val r = get(p)
        assert(r.statusCode() == 200 && countRows(r.body()) > 0, s"$p: ${r.body()}")
      }
    }
    assert(serve.jobs.get > 0)
    assert(serve.shuffleStages.get == 0,
      s"${serve.shuffleStages.get} stages wrote shuffle output while serving lookups")
  }

  test("JSON bodies equal Dataset.toJSON of the same FeatureStore query") {
    val fs = new FeatureStore(spark, storePath)
    def wire(df: org.apache.spark.sql.DataFrame) = "[" + df.toJSON.collect().mkString(",") + "]"
    val cap = 100000 // HttpApi's default maxRows
    Seq(
      "/features/by-ccnum/1" -> fs.byCcNum(1L).limit(cap),
      "/features/by-date?start=2024-01-02&end=2024-01-03" ->
        fs.byDateRange("2024-01-02", "2024-01-03").limit(cap),
      "/transactions/1/recent?k=2" -> fs.topKRecent(1L, 2),
      "/features?limit=3" -> fs.bulk(3)
    ).foreach { case (p, df) =>
      val r = get(p)
      assert(r.statusCode() == 200 && r.body() == wire(df), s"$p: ${r.body()}")
    }
  }

  test("the cached store schema follows a late first write, clear() and direct appends") {
    // a store with no directory yet: the failed first read caches nothing
    val fresh = new FeatureStore(spark, newStorePath("graft_http_fresh_"))
    withApi(fresh) { b =>
      getAt(b, "/features/by-ccnum/7")
      fresh.ingest(Seq(row(7L, 70.0, "2024-05-01 10:00:00", 0)).toDS().toDF())
      val r = getAt(b, "/features/by-ccnum/7")
      assert(r.statusCode() == 200 && countRows(r.body()) == 1, r.body())
    }
    // clear() resets the schema: the store starts without `gender`, so a
    // schema kept across the clear would drop it from every later row
    val p = newStorePath("graft_http_clear_")
    Seq(row(8L, 80.0, "2024-05-01 10:00:00", 0)).toDS().toDF().drop("gender").write.parquet(p)
    val fs = new FeatureStore(spark, p)
    withApi(fs) { b =>
      assert(!getAt(b, "/features/by-ccnum/8").body().contains("gender"))
      fs.clear()
      fs.ingest(Seq(row(9L, 90.0, "2024-05-02 10:00:00", 0)).toDS().toDF())
      assert(countRows(getAt(b, "/features/by-ccnum/8").body()) == 0)
      val r = getAt(b, "/features/by-ccnum/9")
      assert(countRows(r.body()) == 1 && r.body().contains("\"gender\":\"F\""), r.body())
      // files another writer appends are listed on the next request
      Seq(row(10L, 100.0, "2024-05-03 10:00:00", 0)).toDS().toDF()
        .write.mode("append").parquet(p)
      assert(countRows(getAt(b, "/features/by-ccnum/10").body()) == 1)
    }
  }

  test("unknown routes 404") {
    assert(get("/features/unknown/route").statusCode() == 404)
    assert(get("/transactions/1").statusCode() == 404)
    // extra path segments under a valid prefix are unknown routes, not bad params
    assert(get("/features/by-ccnum/1/extra").statusCode() == 404)
  }

  test("GET /similar 404s when no index is mounted") {
    assert(get("/similar/3").statusCode() == 404)
  }

  test("GET /similar/{id} serves ANN neighbors from a mounted IVF-PQ index") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, sf0001, "embeddings")
    val index = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 8)
    val annApi = new HttpApi(spark, new FeatureStore(spark, storePath),
      ann = Some(HttpApi.ivfPqBackend(index, emb, "vec_id", "embedding")))
    annApi.start()
    try {
      val b = s"http://127.0.0.1:${annApi.boundPort}"
      def g(p: String) = client.send(
        HttpRequest.newBuilder(URI.create(b + p)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ok = g("/similar/3?k=2")
      assert(ok.statusCode() == 200, ok.body())
      val ids = "\"neighbor_id\":(\\d+)".r.findAllMatchIn(ok.body())
        .map(_.group(1).toLong).toSeq
      assert(ids.length == 2 && !ids.contains(3L), ok.body())
      // served scores are exact-rerank cosines, not raw ADC distances
      assert(ok.body().contains("\"rank\":1") && ok.body().contains("\"cos\""))
      // bad id syntax and unknown ids are client errors, not 500s
      assert(g("/similar/abc").statusCode() == 400)
      val missing = g("/similar/999999999")
      assert(missing.statusCode() == 400 && missing.body().contains("unknown"))
      // deeper paths under the prefix are unknown routes
      assert(g("/similar/3/extra").statusCode() == 404)
    } finally annApi.stop()
  }

  test("local ANN replica is result-identical to the Spark-job backend") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, sf0001, "embeddings")
    val index = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 8)
    val sparkSide = HttpApi.ivfPqBackend(index, emb, "vec_id", "embedding")
    val localSide = HttpApi.localIvfPqBackend(index, emb, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Option[Double])] =
      df.orderBy("rank").collect().toSeq.map(r =>
        (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // GET path: several stored ids, identical (neighbor, rank, cos)
    Seq(3L, 17L, 42L, 101L).foreach { id =>
      assert(rows(localSide.similar(id, 5)) == rows(sparkSide.similar(id, 5)),
        s"GET parity broke for id $id")
    }
    // POST path: raw query vectors, incl. a stored vector's values
    val v = emb.where(org.apache.spark.sql.functions.col("vec_id") === 7L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    assert(rows(localSide.similarTo(v, 5)) == rows(sparkSide.similarTo(v, 5)))
    // unknown id errors on both
    intercept[IllegalArgumentException] { localSide.similar(999999999L, 3) }
  }

  test("local backend /similar wire format matches the Spark backend byte-for-byte") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, sf0001, "embeddings")
    val index = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 8)
    val apiSpark = new HttpApi(spark, new FeatureStore(spark, storePath),
      ann = Some(HttpApi.ivfPqBackend(index, emb, "vec_id", "embedding")))
    val apiLocal = new HttpApi(spark, new FeatureStore(spark, storePath),
      ann = Some(HttpApi.localIvfPqBackend(index, emb, "vec_id", "embedding")))
    apiSpark.start(); apiLocal.start()
    try {
      def get(port: Int, p: String): String = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      def post(port: Int, body: String): String = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/similar"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
      Seq(3L, 42L).foreach { id =>
        assert(get(apiLocal.boundPort, s"/similar/$id?k=4") ==
          get(apiSpark.boundPort, s"/similar/$id?k=4"),
          s"wire-format parity broke for id $id")
      }
      val v = emb.where(org.apache.spark.sql.functions.col("vec_id") === 7L)
        .select("embedding").head().getSeq[Float](0).mkString("[", ",", "]")
      assert(post(apiLocal.boundPort, s"""{"vector":$v,"k":3}""") ==
        post(apiSpark.boundPort, s"""{"vector":$v,"k":3}"""))
    } finally { apiSpark.stop(); apiLocal.stop() }
  }

  test("POST /similar serves ANN neighbors for a raw query vector") {
    import graft.llm.Similarity
    val emb = Tables.load(spark, sf0001, "embeddings")
    val index = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 8)
    val annApi = new HttpApi(spark, new FeatureStore(spark, storePath),
      ann = Some(HttpApi.ivfPqBackend(index, emb, "vec_id", "embedding")))
    annApi.start()
    try {
      val b = s"http://127.0.0.1:${annApi.boundPort}"
      def p(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b + path))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def g(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def ids(body: String): Seq[Long] =
        "\"neighbor_id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq

      // POSTing a STORED vector's values must rank that vector itself
      // first (ADC distance 0 to its own code), and the remaining
      // neighbors must equal the GET path's ranking for that id —
      // raw-vector serving and stored-id serving share one search.
      val v3 = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 3)
        .select("embedding").head().getSeq[Float](0)
      val body = v3.mkString("""{"vector":[""", ",", """],"k":3}""")
      val ok = p("/similar", body)
      assert(ok.statusCode() == 200, ok.body())
      val got = ids(ok.body())
      assert(got.length == 3 && got.head == 3L, ok.body())
      assert(got.tail == ids(g("/similar/3?k=2").body()), ok.body())

      // wrong dimension, malformed JSON, and a missing/empty vector
      // are client errors that NAME the problem, never 500s
      val short = p("/similar", """{"vector":[1.0,2.0]}""")
      assert(short.statusCode() == 400 && short.body().contains("dimensions"))
      assert(p("/similar", """{"vector":[1.0,""").statusCode() == 400)
      val missing = p("/similar", """{"k":5}""")
      assert(missing.statusCode() == 400 && missing.body().contains("vector"))
      assert(p("/similar", """{"vector":[]}""").statusCode() == 400)
    } finally annApi.stop()
  }

  test("POST /similar 404s when no index is mounted") {
    assert(post("/similar", """{"vector":[1.0]}""").statusCode() == 404)
  }

  test("concurrent requests share one SparkSession safely") {
    // the serving pool is 4 threads over ONE SparkSession — Spark jobs
    // are thread-safe to submit concurrently, but this pins it: 16
    // parallel mixed reads must all succeed with correct bodies (no
    // cross-request bleed, no 500s from shared-session state)
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Int, String, Int)] {
          override def call(): (Int, String, Int) = i % 3 match {
            case 0 => val r = get("/features/by-ccnum/1"); (i, r.body(), r.statusCode())
            case 1 => val r = get("/features/by-ccnum/2"); (i, r.body(), r.statusCode())
            case _ => val r = get("/health"); (i, r.body(), r.statusCode())
          }
        })
      }
      tasks.foreach { f =>
        val (i, body, status) = f.get(120, TimeUnit.SECONDS)
        assert(status == 200, s"request $i failed: $body")
        i % 3 match {
          // cc 1 has 3 rows, cc 2 has 1 — counts prove no result bleed
          case 0 => assert(countRows(body) == 3, s"request $i: $body")
          case 1 => assert(countRows(body) == 1, s"request $i: $body")
          case _ => assert(body.contains("\"ok\""))
        }
      }
    } finally pool.shutdown()
  }

  // --- the card index behind by-card and recent-k --------------------

  /** `n` rows over `cards` cards, one minute apart: no card has two
    * rows at one timestamp. */
  private def cardRows(n: Int, cards: Int, amt: Double = 1.0, from: Int = 0): Seq[FeatureRow] =
    (from until from + n).map(i => FeatureRow(100L + i % cards, amt, 10, 2, 33.5, 12.0, 1, amt,
      if (i % 2 == 0) "grocery" else "travel", "F", 1000,
      new Timestamp(1717200000000L + i * 60000L), 0))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** By-card rows equal the scan's as a multiset and recent-k equals
    * the scan's sort-and-limit, for every card of the store. */
  private def assertMatchesScan(fs: FeatureStore, k: Int = 3): Unit = {
    import org.apache.spark.sql.functions.col
    val cards = fs.offline.select("cc_num").distinct().collect().map(_.getLong(0))
    assert(cards.nonEmpty)
    cards.foreach { cc =>
      val scan = fs.offline.filter(col("cc_num") === cc)
      assert(rowsOf(fs.byCcNum(cc)).sorted == rowsOf(scan).sorted, s"by-card $cc")
      assert(rowsOf(fs.topKRecent(cc, k)) ==
        rowsOf(scan.orderBy(col("feature_timestamp").desc).limit(k)), s"recent-$k $cc")
    }
  }

  private def partFiles(p: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try s.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  test("card index: warm by-card and recent-k requests run no Spark job and equal the scan") {
    val p = newStorePath("graft_index_")
    cardRows(400, 40).toDS().toDF().repartition(4).write.parquet(p)
    assert(partFiles(p).size == 4)
    val fs = new FeatureStore(spark, p)
    withApi(fs) { b =>
      assert(countRows(getAt(b, "/features/by-ccnum/100").body()) == 10) // the warm lookup
      val warm = recording {
        (100L until 140L).foreach { cc =>
          val card = getAt(b, s"/features/by-ccnum/$cc")
          assert(card.statusCode() == 200 && countRows(card.body()) == 10, card.body())
          val recent = getAt(b, s"/transactions/$cc/recent?k=3")
          assert(recent.statusCode() == 200 && countRows(recent.body()) == 3, recent.body())
        }
      }
      assert(warm.jobs.get == 0, s"${warm.jobs.get} jobs served 80 warm lookups")
    }
    assertMatchesScan(fs)
    // by-card rows come newest first
    val ts = fs.byCcNum(100L).collect().map(_.getAs[Timestamp]("feature_timestamp").getTime)
    assert(ts.toSeq == ts.sorted.reverse.toSeq)
  }

  test("card index: warm by-card and recent-k requests start no SQL execution; by-date still does") {
    val p = newStorePath("graft_index_noexec_")
    cardRows(400, 40).toDS().toDF().repartition(4).write.parquet(p)
    withApi(new FeatureStore(spark, p)) { b =>
      assert(countRows(getAt(b, "/features/by-ccnum/100").body()) == 10) // the warm lookup
      val warm = recording {
        (100L until 140L).foreach { cc =>
          assert(countRows(getAt(b, s"/features/by-ccnum/$cc").body()) == 10)
          assert(countRows(getAt(b, s"/transactions/$cc/recent?k=3").body()) == 3)
        }
      }
      assert(warm.executions.get == 0 && warm.jobs.get == 0,
        s"80 warm lookups started ${warm.executions.get} SQL executions and ${warm.jobs.get} jobs")
      val byDate = recording {
        val r = getAt(b, "/features/by-date?start=2024-06-01&end=2024-06-01")
        assert(r.statusCode() == 200 && countRows(r.body()) > 0, r.body())
      }
      assert(byDate.executions.get >= 1 && byDate.jobs.get >= 1,
        "a by-date request started no SQL execution")
    }
  }

  test("card index: a hot card's by-card answer is its maxRows newest rows, as toJSON writes them") {
    val p = newStorePath("graft_index_hot_")
    cardRows(40, 4).toDS().toDF().repartition(2).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    val a = new HttpApi(spark, fs, maxRows = 4)
    a.start()
    try {
      val b = s"http://127.0.0.1:${a.boundPort}"
      (100L until 104L).foreach { cc =>
        val r = getAt(b, s"/features/by-ccnum/$cc")
        assert(r.statusCode() == 200 && countRows(r.body()) == 4, r.body())
        assert(r.body() == "[" + fs.byCcNum(cc).limit(4).toJSON.collect().mkString(",") + "]")
        val newest = fs.offline.filter($"cc_num" === cc).orderBy($"feature_timestamp".desc).limit(4)
        assert(rowsOf(fs.byCcNum(cc).limit(4)) == rowsOf(newest), s"card $cc")
        assert(getAt(b, s"/transactions/$cc/recent?k=10").body() == r.body())
      }
    } finally a.stop()
  }

  test("card index: quotes, control characters, non-ASCII, nulls, NaN, infinities and microseconds " +
    "are written as toJSON writes them") {
    val p = newStorePath("graft_index_awkward_")
    val categories = Seq("say \"hi\"", "back\\slash", "bell\u0007tab\t", "naïve 東京 \ud83d\ude00", null)
    val amts = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 1e-7)
    val rows = categories.zip(amts).zipWithIndex.map { case ((c, amt), i) =>
      val at = new Timestamp(1717200000000L + i * 60000L)
      at.setNanos(123456000 + i * 1000)
      FeatureRow(7L, amt, 10, 2, 33.5, 12.0, 1, amt, c, if (i == 1) null else "F", 1000, at, 0)
    }
    rows.toDS().toDF().coalesce(1).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    def wire(df: org.apache.spark.sql.DataFrame) = "[" + df.toJSON.collect().mkString(",") + "]"
    withApi(fs) { b =>
      def check(): Unit = {
        val card = getAt(b, "/features/by-ccnum/7").body()
        assert(card == wire(fs.byCcNum(7L)), card)
        assert(countRows(card) == 5)
        val recent = getAt(b, "/transactions/7/recent?k=3").body()
        assert(recent == wire(fs.topKRecent(7L, 3)), recent)
      }
      check()
      // the index keeps microseconds; the JSON timestamp format, on both paths, writes milliseconds
      assert(fs.byCcNum(7L).collect().map(_.getAs[Timestamp]("feature_timestamp").getNanos).toSet ==
        rows.map(_.feature_timestamp.getNanos).toSet)
      // the writer takes its settings from the session, not the handler thread
      withSQLConf("spark.sql.jsonGenerator.ignoreNullFields" -> "false",
          "spark.sql.session.timeZone" -> "America/Los_Angeles") {
        check()
        assert(getAt(b, "/features/by-ccnum/7").body().contains("\"category\":null"))
      }
    }
  }

  test("card index: ties on feature_timestamp come in one order, whatever the file order") {
    val tied = (1 to 6).map(i => row(5L, i.toDouble, "2024-07-01 10:00:00", 0))
    def order(rows: Seq[FeatureRow]): Seq[Double] = {
      val p = newStorePath("graft_index_ties_")
      rows.foreach(r => Seq(r).toDS().toDF().write.mode("append").parquet(p))
      new FeatureStore(spark, p).topKRecent(5L, 6).collect().map(_.getAs[Double]("amt")).toSeq
    }
    val first = order(tied)
    assert(first.sorted == tied.map(_.amt))
    assert(order(tied.reverse) == first)
  }

  test("card index: a file another writer appends is served next, and that sync reads only it") {
    val p = newStorePath("graft_index_append_")
    cardRows(400, 40).toDS().toDF().repartition(4).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    assert(fs.byCcNum(100L).count() == 10)
    cardRows(3, 1, amt = 7.0, from = 1000).toDS().toDF().coalesce(1)
      .write.mode("append").parquet(p)
    val sync = recording { assert(fs.byCcNum(100L).count() == 13) }
    assert(sync.recordsRead.get == 3, s"the sync read ${sync.recordsRead.get} rows, not the new file's 3")
    val next = recording { assert(fs.topKRecent(100L, 3).collect().forall(_.getAs[Double]("amt") == 7.0)) }
    assert(next.jobs.get == 0)
    assertMatchesScan(fs)
  }

  test("card index: an ingest reads its own files in, and lookups during it serve the index as it was") {
    import org.apache.spark.sql.functions.{col, udf}
    val p = newStorePath("graft_index_ingest_")
    cardRows(400, 40).toDS().toDF().repartition(4).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    assert(fs.byCcNum(100L).count() == 10)
    IngestGate.started = new java.util.concurrent.CountDownLatch(1)
    IngestGate.release = new java.util.concurrent.CountDownLatch(1)
    // the ingest's write job waits at the gate until the lookups ran
    val gate = udf { (amt: Double) =>
      IngestGate.started.countDown()
      IngestGate.release.await(60, java.util.concurrent.TimeUnit.SECONDS)
      amt
    }
    val rows = cardRows(3, 1, amt = 7.0, from = 1000).toDS().toDF().coalesce(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try fs.ingest(rows.withColumn("amt", gate(col("amt"))))
      catch { case e: Throwable => failure.set(e) })
    writer.start()
    try {
      assert(IngestGate.started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val during = recording {
        assert(fs.byCcNum(100L).collect().forall(_.getAs[Double]("amt") == 1.0))
        assert(fs.topKRecent(100L, 3).collect().forall(_.getAs[Double]("amt") == 1.0))
      }
      assert(during.jobs.get == 0, s"${during.jobs.get} jobs served lookups during a write")
    } finally { IngestGate.release.countDown(); writer.join() }
    assert(failure.get == null, String.valueOf(failure.get))
    val after = recording {
      assert(fs.topKRecent(100L, 3).collect().map(_.getAs[Double]("amt")).toSeq == Seq(7.0, 7.0, 7.0))
      assert(fs.byCcNum(100L).collect().length == 13)
    }
    assert(after.jobs.get == 0, s"${after.jobs.get} jobs served lookups after the ingest returned")
    assertMatchesScan(fs)
  }

  test("card index: a deleted file, clear() and an overwrite each rebuild it") {
    val p = newStorePath("graft_index_rebuild_")
    cardRows(400, 40).toDS().toDF().repartition(4).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    assert(fs.byCcNum(100L).count() == 10)
    // a file deleted by another process: the next sync reads the three left
    java.nio.file.Files.delete(partFiles(p).head)
    val rebuilt = recording(fs.byCcNum(100L).collect())
    assert(rebuilt.recordsRead.get == 300, s"the rebuild read ${rebuilt.recordsRead.get} rows")
    val reread = recording(fs.byCcNum(100L).collect())
    assert(reread.jobs.get == 0, "a rebuilt index was not kept")
    assertMatchesScan(fs)
    // clear() through the engine
    fs.clear()
    assert(fs.byCcNum(100L).count() == 0 && fs.topKRecent(100L, 3).count() == 0)
    fs.ingest(cardRows(20, 2, amt = 3.0).toDS().toDF())
    assert(fs.byCcNum(100L).collect().map(_.getAs[Double]("amt")).toSeq == Seq.fill(10)(3.0))
    // an overwrite through the backend, and one by another writer
    ParquetBackend(p).overwrite(cardRows(20, 2, amt = 4.0).toDS().toDF())
    assert(fs.byCcNum(101L).collect().map(_.getAs[Double]("amt")).toSeq == Seq.fill(10)(4.0))
    cardRows(20, 2, amt = 5.0).toDS().toDF().write.mode("overwrite").parquet(p)
    assert(fs.byCcNum(101L).collect().map(_.getAs[Double]("amt")).toSeq == Seq.fill(10)(5.0))
    assertMatchesScan(fs)
  }

  test("card index: lookups looping beside overwrites never return rows of an older generation") {
    val p = newStorePath("graft_index_race_")
    cardRows(200, 10, amt = 0.0).toDS().toDF().repartition(3).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    fs.byCcNum(100L).collect()
    // generation g's rows all carry amt = g
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Seq[Double])]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Throwable)]()
    val loops = (0 until 2).map { t =>
      val th = new Thread(() => {
        var i = 0
        while (!stop.get) {
          val lo = done.get
          val cc = 100L + (i + t) % 10
          try {
            val amts = (if (i % 2 == 0) fs.byCcNum(cc) else fs.topKRecent(cc, 5))
              .collect().map(_.getAs[Double]("amt")).toSeq
            seen.add((lo, started.get, amts))
          } catch { case e: Exception => failures.add((lo, started.get, e)) }
          i += 1
        }
      })
      th.start()
      th
    }
    try (1 to 4).foreach { g =>
      Thread.sleep(300)
      started.set(g)
      ParquetBackend(p).overwrite(cardRows(200, 10, amt = g.toDouble).toDS().toDF().repartition(3))
      done.set(g)
    } finally { Thread.sleep(300); stop.set(true); loops.foreach(_.join()) }
    assert(seen.size > 20, s"only ${seen.size} lookups ran")
    seen.asScala.foreach { case (lo, hi, amts) =>
      assert(amts.distinct.size <= 1, s"one lookup mixed generations: $amts")
      // an empty answer comes only from a directory an overwrite emptied
      assert(amts.nonEmpty || hi > lo, s"a lookup between overwrites found no rows")
      amts.headOption.foreach(g => assert(g >= lo && g <= hi,
        s"a lookup started after generation $lo saw generation $g"))
    }
    // a lookup may fail only while an overwrite deletes its files
    failures.asScala.foreach { case (lo, hi, e) => assert(hi > lo, s"a lookup failed between overwrites: $e") }
    assert(fs.byCcNum(100L).collect().map(_.getAs[Double]("amt")).toSet == Set(4.0))
  }

  test("card index: a store over its budget answers the same rows through the scan path") {
    val p = newStorePath("graft_index_budget_")
    cardRows(400, 40).toDS().toDF().repartition(4).write.parquet(p)
    ParquetBackend.setIndexBudget(spark, p, 4096L)
    val fs = new FeatureStore(spark, p)
    assertMatchesScan(fs)
    val scans = recording(fs.byCcNum(100L).collect())
    assert(scans.jobs.get > 0 && scans.recordsRead.get > 0, "an over-budget store served from an index")
    withApi(fs) { b =>
      val r = getAt(b, "/transactions/100/recent?k=2")
      assert(r.statusCode() == 200 && countRows(r.body()) == 2, r.body())
    }
  }

  test("card index: a partitioned directory written by another writer serves its partition column") {
    val p = newStorePath("graft_index_partitioned_")
    cardRows(100, 10).toDS().toDF().write.partitionBy("category").parquet(p)
    val fs = new FeatureStore(spark, p)
    assert(fs.byCcNum(100L).collect().map(_.getAs[String]("category")).toSet == Set("grocery"))
    assert(fs.byCcNum(101L).collect().map(_.getAs[String]("category")).toSet == Set("travel"))
    cardRows(2, 1, from = 500).map(_.copy(category = "health")).toDS().toDF()
      .write.mode("append").partitionBy("category").parquet(p)
    val top = fs.topKRecent(100L, 2).collect()
    assert(top.map(_.getAs[String]("category")).toSeq == Seq("health", "health"))
    assertMatchesScan(fs)
  }
}

/** Holds an ingest's write job open while a test looks cards up; the
  * job's tasks run in this JVM, so they see the test's latches. */
object IngestGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(0)
  @volatile var release = new java.util.concurrent.CountDownLatch(0)
}

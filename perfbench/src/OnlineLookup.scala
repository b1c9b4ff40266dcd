package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.Similarity
import graft.schema.FeatureRow
import graft.serve.{FeatureStore, HttpApi}

/** The serving plane under a closed loop: `HttpApi` over a
  * `FeatureStore` on a parquet offline store, plus `/similar` from a
  * driver-local IVF-PQ backend. The loop runs in rounds: in a round
  * every client runs [[Cycle]] once — by-card lookups on skewed keys,
  * recent-k, by-date, `/similar` and one `POST /features`. A run makes
  * a fixed number of rounds, one per [[RoundSeconds]] of the run's
  * seconds (rounded up), so every run does the same work: lookups get
  * faster from round to round (about 700 ms in the first, 460 ms in the
  * fourth, at 3 s a round), and a loop that stopped when the seconds were up made more
  * rounds on a fast run than on a slow one, which moved the median by
  * the round count. Responses are kept and checked after the loop. */
final class OnlineLookup extends Workload {
  val Cards = 4000
  val Rows = 50000
  val Days = 60
  val Files = 3
  val Vectors = 8000
  val Dim = 32
  val K = 10
  val IngestRows = 20
  /** Nominal length of a round, which sets the number of rounds. */
  val RoundSeconds = 4.0
  /** One client's repeating request mix. Only client 0 ingests: two
    * `POST /features` appending at once fail now and then (their
    * parquet writes share one `_temporary` directory), so concurrent
    * ingests are left out; the other clients look a card up instead. */
  val Cycle: Seq[String] =
    Seq("card", "similar", "recent", "card", "date", "card", "similar", "ingest")
  def cycle(client: Int): Seq[String] =
    if (client == 0) Cycle else Cycle.map(k => if (k == "ingest") "card" else k)

  private var dir: String = _
  private var storePath: String = _
  private var rows: Array[FeatureRow] = _
  private var vectors: Array[Array[Double]] = _
  private var cards: Array[Long] = _
  private var api: HttpApi = _
  private var port = 0

  private final case class Call(kind: String, arg: Long, ms: Double, status: Int, body: String,
      ingested: Seq[FeatureRow])
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
  private var loopS = 0.0
  private var recallAtK = 0.0

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    dir = ctx.dir("online")
    val rng = new SplittableRandom(ctx.seed)
    cards = Array.tabulate(Cards)(i => 4100000000000000L + i.toLong * 7919L)
    val used = new java.util.HashSet[(Long, Long)]()
    rows = Array.fill(Rows) {
      val cc = cards(Gen.skewedIndex(rng, Cards))
      var ts = Gen.Epoch0 + rng.nextLong(Days * Gen.Day)
      while (!used.add((cc, ts))) ts += 1
      featureRow(rng, cc, ts)
    }
    storePath = s"$dir/store"
    rows.toSeq.toDS().repartition(Files).write.parquet(storePath)
    vectors = Gen.embeddings(rng, Vectors, Dim)
    val corpus = vectorFrame(spark)
    val index = Trace.span("llm.ann_build")(Similarity.buildIvfPqIndex(corpus, "id", "vec"))
    val backend = HttpApi.localIvfPqBackend(index, corpus, "id", "vec")
    val store =
      if (ctx.traced) new TracedStore(spark, storePath) else new FeatureStore(spark, storePath)
    api = new HttpApi(spark, store,
      ann = Some(if (ctx.traced) new TracedAnn(backend.asInstanceOf[HttpApi.LocalAnnBackend]) else backend))
    api.start()
    port = api.boundPort
  }

  private def vectorFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    vectors.indices.map(i => (i.toLong, vectors(i).toSeq)).toDF("id", "vec")
  }

  private def featureRow(rng: SplittableRandom, cc: Long, ts: Long): FeatureRow =
    FeatureRow(cc, (100 + rng.nextInt(50000)) / 100.0, ((ts % Gen.Day) / 3600).toInt,
      ((ts / Gen.Day + 4) % 7 + 1).toInt, 18 + rng.nextInt(6000) / 100.0,
      rng.nextInt(10000) / 100.0, 1 + rng.nextInt(5), (100 + rng.nextInt(30000)) / 100.0,
      Gen.Categories(rng.nextInt(Gen.Categories.length)), if (rng.nextBoolean()) "F" else "M",
      1000 + rng.nextInt(100000), new Timestamp(ts * 1000L), if (rng.nextInt(50) == 0) 1 else 0)

  def warmup(ctx: Ctx): Unit = {
    val rng = new SplittableRandom(ctx.seed + 99)
    Cycle.foreach(k => request(k, rng, warm = true))
  }

  /** Cards that receive ingests: outside the generated card set, so no
    * lookup races an append; their rows are dated 2030, outside every
    * by-date query. */
  private def ingestCard(rng: SplittableRandom): Long = 4900000000000000L + rng.nextInt(1000000)

  private def request(kind: String, rng: SplittableRandom, warm: Boolean): Call = kind match {
    case "card" =>
      val cc = cards(Gen.skewedIndex(rng, Cards))
      http("GET", s"/features/by-ccnum/$cc", null, kind, cc)
    case "recent" =>
      val cc = cards(Gen.skewedIndex(rng, Cards))
      http("GET", s"/transactions/$cc/recent?k=5", null, kind, cc)
    case "date" =>
      val d = rng.nextInt(Days)
      val day = java.time.LocalDate.ofEpochDay(Gen.Epoch0 / Gen.Day + d).toString
      http("GET", s"/features/by-date?start=$day&end=$day", null, kind, d)
    case "similar" =>
      val id = rng.nextInt(Vectors).toLong
      http("GET", s"/similar/$id?k=$K", null, kind, id)
    case "ingest" =>
      val cc = ingestCard(rng)
      val base = 1893456000L + (if (warm) 0L else 86400L) // 2030-01-01 (warm-up) / 01-02
      val batch = (0 until IngestRows).map(i => featureRow(rng, cc, base + i * 60L))
      val c = http("POST", "/features", batch.map(rowJson).mkString("\n"), kind, cc)
      c.copy(ingested = batch)
  }

  private def rowJson(r: FeatureRow): String =
    s"""{"cc_num":${r.cc_num},"amt":${r.amt},"hour_of_day":${r.hour_of_day},""" +
      s""""day_of_week":${r.day_of_week},"age_at_txn":${r.age_at_txn},""" +
      s""""distance_to_merchant":${r.distance_to_merchant},""" +
      s""""txn_count_last_10_min":${r.txn_count_last_10_min},""" +
      s""""avg_amt_last_1_hour":${r.avg_amt_last_1_hour},"category":"${r.category}",""" +
      s""""gender":"${r.gender}","city_pop":${r.city_pop},""" +
      s""""feature_timestamp":"${r.feature_timestamp.toInstant}","is_fraud":${r.is_fraud}}"""

  private def http(method: String, path: String, body: String, kind: String, arg: Long): Call = {
    val t = System.nanoTime()
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(body.getBytes(StandardCharsets.UTF_8))
      os.close()
    }
    val status = c.getResponseCode
    val in = if (status < 400) c.getInputStream else c.getErrorStream
    val text = new String(in.readAllBytes(), StandardCharsets.UTF_8)
    in.close()
    Call(kind, arg, Stats.msSince(t), status, text, Nil)
  }

  def measure(ctx: Ctx): Unit = {
    val clients = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    val rngs = (0 until clients).map(c => new SplittableRandom(ctx.seed * 1000 + c))
    val rounds = math.max(1, math.ceil(ctx.args.seconds / RoundSeconds).toInt)
    val t0 = System.nanoTime()
    (0 until rounds).foreach { r =>
      val threads = (0 until clients).map { c =>
        val th = new Thread(() => {
          cycle(c).zipWithIndex.foreach { case (kind, i) =>
            ctx.ops.attempt()
            try {
              val req = c * 1000000L + r * Cycle.size + i + 1
              val call = Trace.span(s"client.$kind", req)(request(kind, rngs(c), warm = false))
              if (call.status >= 300) ctx.ops.fail(kind, s"HTTP ${call.status}: ${call.body.take(200)}")
              calls.add(call)
            } catch {
              case e: Exception => ctx.ops.fail(kind, e.toString)
            }
          }
        }, s"client-$c")
        th.start()
        th
      }
      threads.foreach(_.join())
    }
    loopS = Stats.secondsSince(t0)
  }

  def finish(ctx: Ctx): Result = {
    val spark = ctx.spark
    val checks = ctx.checks
    val all = calls.asScala.toSeq
    val ok = all.filter(_.status < 300)
    val ingested = ok.filter(_.kind == "ingest").flatMap(_.ingested)
    checks.guard("responses against an independent index") { checkResponses(ctx, ok) }
    checks.guard("final store row count") {
      val n = spark.read.parquet(storePath).count()
      // warm-up ingests are acknowledged rows too
      val expect = Rows.toLong + ingested.size + IngestRows
      checks(n == expect, s"store has $n rows, expected $expect")
    }
    checks.guard("ingested rows are served back") {
      ingested.groupBy(_.cc_num).take(5).foreach { case (cc, rs) =>
        val got = parseRows(http("GET", s"/features/by-ccnum/$cc", null, "card", cc).body)
          .filter(_.feature_timestamp.getTime >= (1893456000L + 86400L) * 1000L)
        checks(got.map(key).toSet == rs.map(key).toSet, s"ingested rows of card $cc not served back")
      }
    }
    val ann = ok.filter(_.kind == "similar")
    checks.guard("similar recall") {
      val recalls = ann.take(60).map { c =>
        val got = parseNeighbours(c.body)
        checks(got.map(_._2) == (1 to got.size), s"/similar/${c.arg} ranks ${got.map(_._2)}")
        checks(got.map(_._3).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)),
          s"/similar/${c.arg} cosines not non-increasing")
        val exact = bruteForce(c.arg.toInt)
        got.map(_._1).toSet.intersect(exact.toSet).size.toDouble / K
      }
      recallAtK = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
      checks(recalls.nonEmpty && recallAtK >= 0.9, s"/similar recall@$K = $recallAtK")
    }
    def ms(kinds: String*) = ok.filter(c => kinds.contains(c.kind)).map(_.ms)
    val lookups = ms("card", "recent")
    val reqPerS = all.size / loopS
    val named = Seq(
      ("serve_req_per_s", reqPerS, "1/s"),
      ("lookup_p50_ms", Stats.median(lookups), "ms"),
      ("lookup_p90_ms", Stats.quantile(lookups, 0.9), "ms"),
      ("similar_p50_ms", Stats.median(ms("similar")), "ms"),
      ("ingest_p50_ms", Stats.median(ms("ingest")), "ms"))
    Result(reqPerS, Stats.median(lookups), named,
      if (ctx.traced) layers(ok) else Map.empty)
  }

  private def key(r: FeatureRow): (Long, Long) = (r.cc_num, r.feature_timestamp.getTime)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseRows(body: String): Seq[FeatureRow] =
    mapper.readTree(body).elements().asScala.map { n =>
      FeatureRow(n.get("cc_num").asLong, n.get("amt").asDouble, n.get("hour_of_day").asInt,
        n.get("day_of_week").asInt, n.get("age_at_txn").asDouble,
        n.get("distance_to_merchant").asDouble, n.get("txn_count_last_10_min").asInt,
        n.get("avg_amt_last_1_hour").asDouble, n.get("category").asText, n.get("gender").asText,
        n.get("city_pop").asInt,
        Timestamp.from(java.time.OffsetDateTime.parse(n.get("feature_timestamp").asText).toInstant),
        n.get("is_fraud").asInt)
    }.toSeq

  private def parseNeighbours(body: String): Seq[(Long, Int, Double)] =
    mapper.readTree(body).elements().asScala.map(n =>
      (n.get("neighbor_id").asLong, n.get("rank").asInt, n.get("cos").asDouble)).toSeq

  private def checkResponses(ctx: Ctx, ok: Seq[Call]): Unit = {
    val byCard = rows.groupBy(_.cc_num)
    val byDay = rows.groupBy(r => (r.feature_timestamp.getTime / 1000L - Gen.Epoch0) / Gen.Day)
    ok.foreach { c =>
      c.kind match {
        case "card" =>
          val got = parseRows(c.body)
          val want = byCard.getOrElse(c.arg, Array.empty[FeatureRow])
          ctx.checks(got.sortBy(key) == want.toSeq.sortBy(key), s"by-card ${c.arg}: ${got.size} rows vs ${want.length}")
        case "recent" =>
          val got = parseRows(c.body)
          val want = byCard.getOrElse(c.arg, Array.empty[FeatureRow]).sortBy(r => -r.feature_timestamp.getTime).take(5)
          ctx.checks(got == want.toSeq, s"recent ${c.arg}")
        case "date" =>
          val got = parseRows(c.body)
          val want = byDay.getOrElse(c.arg, Array.empty[FeatureRow])
          ctx.checks(got.sortBy(key) == want.toSeq.sortBy(key), s"by-date day ${c.arg}: ${got.size} rows vs ${want.length}")
        case _ =>
      }
    }
  }

  /** Exact cosine top-k of vector `q`, itself excluded. */
  private def bruteForce(q: Int): Seq[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qv = vectors(q)
    val qn = norm(qv)
    vectors.indices.filter(_ != q).map { i =>
      val v = vectors(i)
      var d = 0.0; var j = 0
      while (j < Dim) { d += qv(j) * v(j); j += 1 }
      (i.toLong, d / (qn * norm(v)))
    }.sortBy(p => (-p._2, p._1)).take(K).map(_._1)
  }

  private def layers(ok: Seq[Call]): Map[String, Double] = {
    val store = Seq("serve.byCcNum", "serve.topKRecent", "serve.byDateRange").flatMap(Trace.named)
    val lookups = Seq("serve.byCcNum", "serve.topKRecent").flatMap(Trace.named)
    def sum(ss: Seq[Span], k: String) = ss.map(Trace.total(_, k)).sum.toDouble
    val returned = ok.filter(c => Set("card", "recent", "date")(c.kind)).map(c => parseRows(c.body).size).sum
    val n = math.max(1, store.size).toDouble
    Map(
      "serve.store_ms" -> Stats.median(store.map(s => s.ms + Trace.total(s, "job_ms"))),
      "serve.jobs_per_request" -> sum(store, "jobs") / n,
      "serve.tasks_per_request" -> sum(store, "tasks") / n,
      "serve.rows_scanned_per_row_returned" -> sum(store, "input_records") / math.max(1, returned),
      "serve.bytes_scanned_per_lookup" -> sum(lookups, "input_bytes") / math.max(1, lookups.size),
      "serve.store_files" -> Files2.parquetFiles(storePath).toDouble,
      "serve.ingest_ms" -> Stats.median(Trace.named("serve.ingest").map(_.ms)),
      "llm.ann_query_ms" -> Stats.median(Trace.named("llm.ann_query").map(_.ms)),
      // the index is built once, in set-up
      "llm.ann_build_ms" -> Stats.median(Trace.spans.filter(_.name == "llm.ann_build").map(_.ms)),
      "llm.ann_recall_at_k" -> recallAtK)
  }

  override def close(): Unit = if (api != null) { api.stop(); api = null }
}

/** A `FeatureStore` whose calls from the HTTP layer are spans. The
  * lookups return lazy DataFrames that the handler runs afterwards on
  * the same thread, so their spans are sticky: the jobs that serve the
  * response are attributed to them. */
final class TracedStore(spark: SparkSession, path: String) extends FeatureStore(spark, path) {
  override def offline: DataFrame = Trace.sticky("serve.offline")(super.offline)
  override def byCcNum(cc: Long): DataFrame = Trace.sticky("serve.byCcNum")(super.byCcNum(cc))
  override def topKRecent(cc: Long, k: Int): DataFrame =
    Trace.sticky("serve.topKRecent")(super.topKRecent(cc, k))
  override def byDateRange(startDay: String, endDay: String): DataFrame =
    Trace.sticky("serve.byDateRange")(super.byDateRange(startDay, endDay))
  override def ingest(rows: DataFrame): Unit = Trace.span("serve.ingest")(super.ingest(rows))
}

/** The `/similar` backend with each query timed as a span. */
final class TracedAnn(inner: HttpApi.LocalAnnBackend) extends HttpApi.LocalAnnBackend {
  def similarRows(vecId: Long, k: Int): Array[(Long, Int, java.lang.Double)] =
    Trace.span("llm.ann_query")(inner.similarRows(vecId, k))
  def similarToRows(vector: Array[Double], k: Int): Array[(Long, Int, java.lang.Double)] =
    Trace.span("llm.ann_query")(inner.similarToRows(vector, k))
  def similar(vecId: Long, k: Int): DataFrame = inner.similar(vecId, k)
  def similarTo(vector: Array[Double], k: Int): DataFrame = inner.similarTo(vector, k)
}

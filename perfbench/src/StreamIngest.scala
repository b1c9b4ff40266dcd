package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, StreamingQueryProgress}

import graft.schema.CardStats
import graft.sources.LogTopic
import graft.stream.{OnlineStore, StreamPipeline}

/** The streaming plane: a backlog of wire-JSON transactions in a
  * `graft-log` topic is drained through `StreamPipeline.parse` →
  * `pipeline` → `OnlineStore.sink` at a fixed `maxRecordsPerTrigger`,
  * then a fixed number of small fixed-size batches trickle in (one per
  * [[TrickleSeconds]] of the run's seconds, at least [[MinTrickles]]),
  * each produced and processed to completion. The query starts in
  * the warm-up on a few events; the backlog lands after them. */
final class StreamIngest extends Workload {
  val Cards = 1500
  val Backlog = 2000
  val PerTrigger = 2000L
  /** Nominal seconds of one trickle, which sets the number of trickles
    * (at least [[MinTrickles]]). The count is fixed before the loop, not
    * read off the clock: a loop that stopped when the seconds were up
    * made more trickles on a fast run than on a slow one. */
  val TrickleSeconds = 2.0
  val MinTrickles = 4
  val TrickleEvents = 20
  val Partitions = 3
  val WarmEvents = 200

  private final case class Event(id: String, cc: Long, amount: Double, lat: Double, lon: Double,
      merchLat: Double, merchLon: Double, tsSec: Long) {
    def wire: String =
      s"""{"txn_id":"$id","cc_num":"$cc","amount":"$amount","lat":"$lat","long":"$lon",""" +
        s""""merch_lat":"$merchLat","merch_long":"$merchLon","timestamp":"${
          java.time.LocalDateTime.ofEpochSecond(tsSec, 0, java.time.ZoneOffset.UTC).toString.replace('T', ' ')}"}"""
    def record: LogTopic.ProducerRecord =
      LogTopic.ProducerRecord(Some(s"card-$cc"), wire, tsSec * 1000L)
  }

  private var dir: String = _
  private var rng: SplittableRandom = _
  private var cards: Array[(Long, Double, Double)] = _
  private var nextTs = 0L
  private var nextId = 0L
  private val produced = ArrayBuffer.empty[Event]
  private var query: StreamingQuery = _
  private var store: OnlineStore = _
  private var drainS = 0.0
  private val trickleMs = ArrayBuffer.empty[Double]

  private def events(n: Int, prefix: String): Seq[Event] = (0 until n).map { _ =>
    val (cc, lat, lon) = cards(Gen.skewedIndex(rng, Cards))
    nextTs += 1 + rng.nextInt(2)
    nextId += 1
    Event(s"$prefix$nextId", cc, (100 + rng.nextInt(60000)) / 100.0, lat, lon,
      math.rint((lat + rng.nextDouble() - 0.5) * 1e4) / 1e4,
      math.rint((lon + rng.nextDouble() - 0.5) * 1e4) / 1e4, nextTs)
  }

  private def topic = s"$dir/topic"

  private def produce(es: Seq[Event]): Unit = {
    LogTopic.produce(topic, es.map(_.record))
    produced ++= es
  }

  def build(ctx: Ctx): Unit = {
    dir = ctx.dir("stream")
    rng = new SplittableRandom(ctx.seed)
    cards = Array.tabulate(Cards)(i => (4200000000000000L + i * 7919L,
      math.rint((25 + rng.nextDouble() * 23) * 1e4) / 1e4, math.rint((-123 + rng.nextDouble() * 53) * 1e4) / 1e4))
    nextTs = Gen.Epoch0
    nextId = 0L
    produced.clear()
    LogTopic.createTopic(topic, Partitions)
    produce(events(WarmEvents, "t"))
  }

  /** Start the query on the first events, then land the backlog. */
  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val stats = StreamPipeline.pipeline(
      StreamPipeline.parse(StreamPipeline.logTopicSource(spark, topic, Some(PerTrigger))),
      timeout = GroupStateTimeout.NoTimeout)
    store = if (ctx.traced) new TracedOnlineStore(spark, s"$dir/store") else new OnlineStore(spark, s"$dir/store")
    query = store.sink(stats, s"$dir/checkpoint").start()
    query.processAllAvailable()
    produce(events(Backlog, "t"))
  }

  private var firstTimedBatch = 0L

  private def trickles(ctx: Ctx): Int =
    math.max(MinTrickles, math.ceil(ctx.args.seconds / TrickleSeconds).toInt)

  def measure(ctx: Ctx): Unit = {
    firstTimedBatch = query.lastProgress.batchId + 1
    val t0 = System.nanoTime()
    ctx.ops("drain")(Trace.span("stream.drain")(query.processAllAvailable()))
    drainS = Stats.secondsSince(t0)
    (0 until trickles(ctx)).foreach { _ =>
      val batch = events(TrickleEvents, "t")
      ctx.ops("trickle") {
        Trace.span("sources.produce")(produce(batch))
        val t = System.nanoTime()
        Trace.span("stream.trickle")(query.processAllAvailable())
        trickleMs += Stats.msSince(t)
      }
    }
  }

  def finish(ctx: Ctx): Result = {
    val checks = ctx.checks
    val progress = query.recentProgress.toSeq
    query.stop()
    checks.guard("input rows") {
      // numInputRows counts every scan of the source in the plan; each
      // scan must read every produced event exactly once
      val n = progress.map(_.numInputRows).sum
      val scans = sourceScans(query)
      checks(scans >= 1 && n == produced.size.toLong * scans,
        s"the query read $n rows over $scans source scans, ${produced.size} events were produced")
    }
    checks.guard("online store") { checkStore(ctx) }
    val eventsPerS = Backlog / drainS
    Result(eventsPerS, Stats.median(trickleMs),
      Seq(("drain_events_per_s", eventsPerS, "1/s"),
        ("trickle_batch_p50_ms", Stats.median(trickleMs), "ms")),
      if (ctx.traced) layers(progress.lastOption) else Map.empty)
  }

  /** Scans of the log source in the query's plan. */
  private def sourceScans(q: StreamingQuery): Int =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.logicalPlan.collectLeaves()
      .count(_.getClass.getSimpleName.startsWith("StreamingDataSourceV2"))

  private def checkStore(ctx: Ctx): Unit = {
    val asOf = nextTs
    val byCard = produced.groupBy(_.cc).map { case (cc, es) =>
      val ts = es.map(_.tsSec).sorted.toArray
      // the card's largest event count in any 600 s window
      var best = 0; var lo = 0
      ts.indices.foreach { hi =>
        while (ts(hi) - ts(lo) >= 600) lo += 1
        best = math.max(best, hi - lo + 1)
      }
      cc -> (best, es.map(_.amount).min, es.map(_.amount).max)
    }
    // the store's queries are independent Spark jobs: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Partitions)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try checkStoreQueries(ctx, asOf, byCard)
    finally pool.shutdown()
  }

  private def checkStoreQueries(ctx: Ctx, asOf: Long, byCard: Map[Long, (Int, Double, Double)])(
      implicit ec: ExecutionContext): Unit = {
    val byId = produced.map(e => e.id -> e).toMap
    val statsF = Future(store.stats(asOf).collect())
    val retained = store.retained(asOf).collect()
    ctx.checks(retained.nonEmpty, "online store retained no rows")
    retained.foreach { r =>
      val id = r.getAs[String]("txn_id")
      byId.get(id) match {
        case None => ctx.checks(cond = false, s"retained txn $id was never produced")
        case Some(e) =>
          ctx.checks(r.getAs[Long]("cc_num") == e.cc && r.getAs[Double]("amount") == e.amount,
            s"txn $id: card or amount differ")
          ctx.checks.close(r.getAs[Double]("distance_to_merchant"),
            Gen.haversineMiles(e.lat, e.lon, e.merchLat, e.merchLon), s"txn $id distance")
          val (maxCount, lo, hi) = byCard(e.cc)
          val n = r.getAs[Long]("txn_count_last_10_min")
          ctx.checks(n >= 1 && n <= maxCount, s"txn $id 10-min count $n outside [1, $maxCount]")
          val avg = r.getAs[Double]("avg_amt_last_1_hour")
          ctx.checks(avg >= lo - 1e-9 && avg <= hi + 1e-9, s"txn $id 1-h average $avg outside [$lo, $hi]")
      }
    }
    val stats = Await.result(statsF, Duration.Inf)
    ctx.checks(stats.map(_.getAs[Long]("cc_num")).distinct.length == stats.length,
      "stats holds more than one row per card")
    val latest = retained.groupBy(_.getAs[Long]("cc_num"))
    // each topKRecent runs a query over the whole log, so six cards are
    // asked: the three with the most events and three spread over the rest
    val events = produced.groupBy(_.cc).map { case (cc, es) => cc -> es.size }
    val ranked = stats.map(_.getAs[Long]("cc_num")).sortBy(cc => (-events.getOrElse(cc, 0), cc)).toSeq
    val rest = ranked.drop(3)
    val sample = ranked.take(3) ++ rest.grouped(math.max(1, rest.size / 3)).map(_.head).take(3)
    sample.map(cc => cc -> Future(store.topKRecent(cc, 3, asOf).collect())).foreach { case (cc, topF) =>
      val top = Await.result(topF, Duration.Inf)
      ctx.checks(top.nonEmpty && top.forall(_.getAs[Long]("cc_num") == cc), s"topKRecent($cc) rows")
      val times = top.map(_.getAs[Timestamp]("last_update").getTime)
      ctx.checks(times.sameElements(times.sortBy(-_)), s"topKRecent($cc) not newest first")
      ctx.checks(latest.get(cc).exists(_.map(_.getAs[Timestamp]("last_update").getTime).max == times.head),
        s"topKRecent($cc) misses the card's newest row")
    }
  }

  /** From the listener's progress events of the timed data batches. */
  private def layers(last: Option[StreamingQueryProgress]): Map[String, Double] = {
    val data = Trace.progress.asScala.toSeq.filter(p =>
      last.exists(_.runId == p.runId) && p.batchId >= firstTimedBatch && p.numInputRows > 0)
    def dur(k: String) = Stats.median(data.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val batchJobs = data.flatMap(p => Option(Trace.streamBatches.get(p.batchId)).map(_.get("jobs").toDouble))
    val upserts = Trace.named("online_store.upsert")
    val written = upserts.map(Trace.total(_, "output_records")).sum.toDouble
    Map(
      "stream.batch_ms" -> Stats.median(data.map(_.batchDuration.toDouble)),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.get_batch_ms" -> dur("getBatch"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.jobs_per_batch" -> (if (batchJobs.isEmpty) 0.0 else batchJobs.sum / batchJobs.size),
      "stream.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "stream.state_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "stream.state_commit_ms" -> Stats.median(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "online_store.upsert_ms" -> Stats.median(upserts.map(_.ms)),
      "online_store.rows_per_event" -> written / math.max(1, produced.size))
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

/** An `OnlineStore` whose sink writes are spans. */
final class TracedOnlineStore(spark: SparkSession, path: String) extends OnlineStore(spark, path) {
  override def upsertBatch(batch: Dataset[CardStats], batchId: Long): Unit =
    Trace.span("online_store.upsert")(super.upsertBatch(batch, batchId))
}

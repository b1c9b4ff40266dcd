package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.expr.Haversine
import graft.schema.{CardState, CardStats, CardWindow, Schemas, StreamTxn}

/** The reference's streaming feature plane (PyFlink `pipeline.py` +
  * `stream_features.py`) re-expressed in Structured Streaming.
  *
  * Shape: JSON source → typed parse → ONE keyed stateful operator on
  * cc_num → online sink. [[pipeline]] scans the source once per
  * micro-batch and emits exactly one CardStats per event.
  *
  * Scale/design notes:
  *  - The reference chains TWO keyed CoProcessFunctions behind TWO
  *    keyed window operators — four shuffles on cc_num
  *    (pipeline.py:60,65,69-70,73-74). Here one
  *    `flatMapGroupsWithState` keeps each card's recent (ts, amount)
  *    pairs and computes both windowed features per event: one
  *    shuffle, one state store, one row written per event.
  *  - Window semantics: the reference names say 10 min / 1 h but the
  *    Flink code uses 2 min/20 s and 5 min/1 min *processing-time*
  *    slides (pipeline.py:59-67). We compute *event-time* trailing
  *    windows `(t − size, t]` at each event with the named durations
  *    (600 s, 3600 s) — the batch plane's features (FeaturePipeline),
  *    half-open — documented deviation (SURVEY.md §7.4), configurable
  *    via [[WindowSpec]]. No watermark unless EventTimeTimeout.
  *  - State eviction: the window horizon prunes each card's pairs;
  *    ProcessingTimeTimeout drops idle cards, mirroring the Redis TTL
  *    (redis_writer.py:25,38).
  *  - [[slidingCount]], [[slidingAvg]] and [[mergeStats]] keep the
  *    reference's window-then-merge operators as standalone pieces.
  */
object StreamPipeline {

  /** Window sizes and slides. [[pipeline]] reads only the two sizes
    * (its windows trail each event); the slides are for
    * [[slidingCount]] / [[slidingAvg]]. */
  final case class WindowSpec(countSize: String, countSlide: String,
      avgSize: String, avgSlide: String)
  val NamedDurations: WindowSpec = WindowSpec("600 seconds", "20 seconds", "3600 seconds", "60 seconds")
  /** The literal Flink spec (pipeline.py:59-67) behind a compat flag. */
  val LiteralFlinkSpec: WindowSpec = WindowSpec("120 seconds", "20 seconds", "300 seconds", "60 seconds")

  /** Parse the stringly-typed JSON wire format to a typed stream
    * (pipeline.py:44 + assigner :13-15). */
  def parse(raw: DataFrame): Dataset[StreamTxn] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(from_json(col("value").cast("string"), Schemas.streamWire).as("r"))
      .select(
        col("r.txn_id").as("txn_id"),
        col("r.cc_num").cast("long").as("cc_num"),
        col("r.amount").cast("double").as("amount"),
        col("r.lat").cast("double").as("lat"),
        col("r.long").cast("double").as("lon"),
        col("r.merch_lat").cast("double").as("merch_lat"),
        col("r.merch_long").cast("double").as("merch_long"),
        to_timestamp(col("r.timestamp")).as("ts"))
      .as[StreamTxn]
  }

  /** Kafka source (S5) — requires the spark-sql-kafka connector on the
    * classpath at deployment; tests drive [[parse]] via MemoryStream and
    * the pinned wire fixture (src/test/resources/wire_fixture.jsonl).
    * `maxOffsetsPerTrigger` bounds micro-batch size so a backlogged
    * topic replays at a controlled rate instead of one giant batch. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString))
      .load()
  }

  /** The in-repo Kafka-shaped source ([[graft.sources.LogTopicProvider]],
    * format `graft-log`): same row schema and offset/admission-control
    * contract as [[kafkaSource]], backed by a partitioned append-only
    * log on shared storage — the ingress the streaming tests drive END
    * TO END (consume → parse → keyed features → sink, checkpointed
    * restart included), since no Kafka broker/connector exists in this
    * environment. Deployment swaps this `format` for "kafka"; nothing
    * downstream changes. */
  def logTopicSource(spark: SparkSession, dir: String,
      maxRecordsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("graft-log").option("path", dir)
    maxRecordsPerTrigger.fold(r)(n => r.option("maxRecordsPerTrigger", n.toString))
      .load()
  }

  /** A3: per-card sliding-window count. */
  def slidingCount(txns: Dataset[StreamTxn], spec: WindowSpec = NamedDurations): DataFrame =
    txns.toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), spec.countSize, spec.countSlide), col("cc_num"))
      .agg(count(lit(1)).as("txn_count"))

  /** A4: per-card sliding-window average amount. */
  def slidingAvg(txns: Dataset[StreamTxn], spec: WindowSpec = NamedDurations): DataFrame =
    txns.toDF()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), spec.avgSize, spec.avgSlide), col("cc_num"))
      .agg(avg(col("amount")).as("avg_amt"))

  /** Input to the stateful merge: one of the three per-card slots.
    * (The reference merges via two chained 2-way connects;
    * stream_features.py:19-47.) */
  case class Slot(cc_num: Long, txn: Option[StreamTxn],
      txnCount: Option[Long], avgAmt: Option[Double], ts: Timestamp)

  /** J1+J2: latest-wins stateful merge of the three streams in ONE
    * keyed operator. Emits a full CardStats whenever all slots are
    * present (matching CombineTxnAndAvg + FinalJoiner emission rules).
    */
  def mergeStats(slots: Dataset[Slot],
      stateTtlMs: Long = 86400000L,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout,
      watermarkDelay: String = "5 seconds"): Dataset[CardStats] = {
    // NOTE: ProcessingTimeTimeout makes the engine schedule continuous
    // no-data micro-batches, so tests driven by processAllAvailable()
    // pass NoTimeout; production queries on a real trigger keep the TTL.
    // EventTimeTimeout ties eviction to the WATERMARK instead of wall
    // clock — on a backfill/replay of old data, state expires with the
    // replayed event time rather than never (clock far ahead) or
    // prematurely (clock-based TTL elapsed long ago).
    val spark = slots.sparkSession
    import spark.implicits._
    val in =
      if (timeout == GroupStateTimeout.EventTimeTimeout)
        slots.withWatermark("ts", watermarkDelay)
      else slots
    in.groupByKey(_.cc_num)
      .flatMapGroupsWithState[CardState, CardStats](
        OutputMode.Append, timeout) {
        (cc: Long, in: Iterator[Slot], state: GroupState[CardState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(CardState(None, None, None))
            var maxTsMs = Long.MinValue
            val out = Iterator.unfold(in) { it =>
              if (!it.hasNext) None
              else {
                val s = it.next()
                maxTsMs = math.max(maxTsMs, s.ts.getTime)
                st = CardState(
                  s.txn.orElse(st.lastTxn),
                  s.txnCount.orElse(st.txnCount),
                  s.avgAmt.orElse(st.avgAmt))
                val emit = for {
                  t <- st.lastTxn; n <- st.txnCount; a <- st.avgAmt
                } yield CardStats(cc, t.txn_id, t.amount,
                  haversineMiles(t.lat, t.lon, t.merch_lat, t.merch_long),
                  n, a, s.ts)
                Some((emit, it))
              }
            }.flatten.toVector
            state.update(st)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(stateTtlMs)
            else if (timeout == GroupStateTimeout.EventTimeTimeout && maxTsMs != Long.MinValue)
              // Expire when the WATERMARK passes last-event-time + TTL.
              // Clamp to just past the current watermark: a group whose
              // newest event is already > TTL behind the watermark (mixed
              // old/new backfill) would otherwise make setTimeoutTimestamp
              // throw (timeout must exceed the watermark) and kill the query.
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, maxTsMs + stateTtlMs))
            out.iterator
          }
      }
  }

  /** [[mergeStats]] re-expressed on Spark 4's `transformWithState` —
    * the arbitrary-state API succeeding `flatMapGroupsWithState`:
    * typed per-key `ValueState` with NATIVE TTL (the state store evicts
    * expired keys itself — no user-side timeout bookkeeping, the thing
    * [[mergeStats]] spends its timeout-clamping logic on), backed by
    * RocksDB so the keyspace spills past executor heap — the 100 TB
    * card-state path. Same latest-wins slot-merge semantics and
    * emission rule; StreamSpec asserts output parity.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`). */
  def mergeStatsTws(slots: Dataset[Slot],
      stateTtl: Option[java.time.Duration] = Some(java.time.Duration.ofDays(1))): Dataset[CardStats] = {
    val spark = slots.sparkSession
    import spark.implicits._
    // NOTE: TTL needs TimeMode.ProcessingTime, which (like the old
    // API's ProcessingTimeTimeout) schedules continuous no-data
    // micro-batches — so processAllAvailable()-driven tests pass
    // stateTtl=None (TimeMode.None); production triggers keep the TTL.
    val timeMode =
      if (stateTtl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    slots.groupByKey(_.cc_num)
      .transformWithState(new CardMergeProcessor(stateTtl), timeMode,
        OutputMode.Append())
  }

  /** The [[mergeStatsTws]] stateful processor: one `ValueState` holding
    * all three slots per card, TTL delegated to the state store. */
  class CardMergeProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Slot, CardStats] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var slots: ValueState[CardState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      slots = getHandle.getValueState[CardState]("cardSlots",
        org.apache.spark.sql.Encoders.product[CardState],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(cc: Long, in: Iterator[Slot],
        tv: TimerValues): Iterator[CardStats] = {
      var st = if (slots.exists()) slots.get() else CardState(None, None, None)
      val out = in.flatMap { s =>
        st = CardState(
          s.txn.orElse(st.lastTxn),
          s.txnCount.orElse(st.txnCount),
          s.avgAmt.orElse(st.avgAmt))
        for {
          t <- st.lastTxn; n <- st.txnCount; a <- st.avgAmt
        } yield CardStats(cc, t.txn_id, t.amount,
          haversineMiles(t.lat, t.lon, t.merch_lat, t.merch_long),
          n, a, s.ts)
      }.toVector
      slots.update(st)
      out.iterator
    }
  }

  /** Event-time sessionization (the streaming form of A14): per-card
    * session windows that close after `gap` of event-time silence.
    * `session_window` is Spark's native merging-window state operator —
    * state per open session, merged on overlap, emitted and dropped
    * when the watermark passes session end + gap. Bounded state at any
    * input rate; sessions shuffle on (cc_num) once. */
  def sessionCounts(txns: Dataset[StreamTxn], gap: String = "10 seconds",
      watermarkDelay: String = "5 seconds"): DataFrame =
    txns.toDF()
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("session"), col("cc_num"))
      .agg(count(lit(1)).as("n_txns"), sum(col("amount")).as("total_amount"))
      .select(col("cc_num"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_txns"), col("total_amount"))

  /** Stream-stream interval join (the streaming J-family form): each
    * left event pairs with same-card right events whose event time lies
    * in [l.ts − `before`, l.ts] — "prior transactions of this card in
    * the last N minutes", the classic fraud-context join. BOTH sides
    * carry a watermark, so Spark bounds join state: a buffered right row
    * is dropped once the left watermark passes `r.ts + before`. State is
    * finite at any input rate — the property that lets this run forever
    * on a large cluster (an unwatermarked stream join grows state
    * without bound and is refused by the engine for append output). */
  def intervalJoin(left: Dataset[StreamTxn], right: Dataset[StreamTxn],
      before: String = "10 minutes",
      watermarkDelay: String = "5 seconds"): DataFrame = {
    val l = left.toDF().withWatermark("ts", watermarkDelay).alias("l")
    val r = right.toDF().withWatermark("ts", watermarkDelay).alias("r")
    l.join(r, expr(
      s"""l.cc_num = r.cc_num AND l.txn_id != r.txn_id AND
         |r.ts >= l.ts - interval $before AND r.ts <= l.ts""".stripMargin))
      .select(col("l.txn_id").as("txn_id"), col("l.cc_num").as("cc_num"),
        col("l.ts").as("ts"), col("l.amount").as("amount"),
        col("r.txn_id").as("prior_txn_id"), col("r.amount").as("prior_amount"),
        col("r.ts").as("prior_ts"))
  }

  /** One micro-batch of [[jdbcSink]], exposed for direct idempotency
    * testing: delete any rows of THIS batch_id (a partial write left by
    * a crashed previous attempt), then append tagged with the batch_id.
    * Re-running a batch after a crash-restart therefore never
    * double-counts — the standard foreachBatch exactly-once recipe when
    * the target DB has no native MERGE. */
  def writeJdbcBatch(batch: DataFrame, batchId: Long, url: String,
      table: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    // Spark's JDBC writer passes the TABLE name through verbatim but
    // quotes COLUMN names — mirror exactly that, or the delete resolves
    // against a case-folded name that doesn't exist and every replay
    // double-counts.
    try conn.createStatement().executeUpdate(
      s"""DELETE FROM $table WHERE "batch_id" = $batchId""")
    catch {
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(s => s == "42X05" || s == "42P01") =>
        () // table does not exist yet (Derby / Postgres state): first batch
    }
    finally conn.close()
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("append").jdbc(url, table, new java.util.Properties())
  }

  /** Stream the merged card stats into a JDBC offline store (the
    * reference's Postgres serving plane, prisma/schema.prisma:16-31)
    * with per-batch idempotent writes — see [[writeJdbcBatch]]. */
  def jdbcSink(stats: Dataset[CardStats], url: String, table: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stats.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (b: Dataset[CardStats], id: Long) =>
        writeJdbcBatch(b.toDF(), id, url, table)
      }
      .start()

  /** Scalar haversine for the driver-side state logic (same constants
    * as the columnar form; reference pipeline.py:17-23 atan2 variant is
    * numerically equivalent). */
  def haversineMiles(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dlat = math.toRadians(lat2 - lat1)
    val dlon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dlat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dlon / 2), 2)
    2 * Haversine.EarthRadiusMiles * math.asin(math.sqrt(a))
  }

  /** End-to-end streaming feature pipeline: ONE source scan into ONE
    * keyed stateful operator; attach [[OnlineStore.sink]] via
    * foreachBatch for the online plane. Mirrors pipeline.py:38-80
    * minus the Kafka/Redis edges.
    *
    * Emits exactly one CardStats per event, stamped with the event's
    * time: `txn_count_last_10_min` counts the card's known events with
    * ts in `(t − countSize, t]`, `avg_amt_last_1_hour` averages their
    * amounts over `(t − avgSize, t]`. Half-open, so two events exactly
    * one window apart do not count each other. The known events are
    * the card's retained state plus the whole current micro-batch
    * (emitted in (ts, txn_id) order); a late event is counted at
    * arrival against what is retained, and rows already emitted are
    * not revised. State keeps the pairs with ts > newest − the longer
    * size.
    *
    * `timeout`: NoTimeout keeps state until the window horizon prunes
    * it and runs no no-data batches; ProcessingTimeTimeout also drops a
    * card idle for a day; EventTimeTimeout adds a 5 s watermark (rows
    * behind it are dropped) and drops a card a day of event time after
    * its newest event. */
  def pipeline(txns: Dataset[StreamTxn], spec: WindowSpec = NamedDurations,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[CardStats] = {
    val spark = txns.sparkSession
    import spark.implicits._
    val countUs = intervalMicros(spec.countSize)
    val avgUs = intervalMicros(spec.avgSize)
    val horizonUs = math.max(countUs, avgUs)
    val stateTtlMs = 86400000L
    val in =
      if (timeout == GroupStateTimeout.EventTimeTimeout) txns.withWatermark("ts", "5 seconds")
      else txns
    in.groupByKey(_.cc_num)
      .flatMapGroupsWithState[CardWindow, CardStats](OutputMode.Append, timeout) {
        (cc: Long, events: Iterator[StreamTxn], state: GroupState[CardWindow]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (batchTs, batch) = events.map(t => (epochMicros(t.ts), t)).toArray
              .sortBy { case (at, t) => (at, t.txn_id) }.unzip
            val prior = state.getOption.getOrElse(CardWindow(Array.emptyLongArray, Array.emptyDoubleArray))
            // the card's known events, ascending by ts (a stable sort)
            val (ts, amounts) = (prior.tsMicros.zip(prior.amounts) ++
              batchTs.zip(batch.map(_.amount))).sortBy(_._1).unzip
            // index of the first known event with ts > bound
            def after(bound: Long): Int = {
              var lo = 0; var hi = ts.length
              while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) <= bound) lo = m + 1 else hi = m }
              lo
            }
            val out = batch.indices.map { k =>
              val t = batch(k)
              val at = batchTs(k)
              val end = after(at)
              val avgFrom = after(at - avgUs)
              var sum = 0.0
              var i = avgFrom
              while (i < end) { sum += amounts(i); i += 1 }
              CardStats(cc, t.txn_id, t.amount,
                haversineMiles(t.lat, t.lon, t.merch_lat, t.merch_long),
                (end - after(at - countUs)).toLong, sum / (end - avgFrom), t.ts)
            }
            val newest = ts.last
            val keep = after(newest - horizonUs)
            state.update(CardWindow(ts.drop(keep), amounts.drop(keep)))
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(stateTtlMs)
            else if (timeout == GroupStateTimeout.EventTimeTimeout)
              // clamped past the watermark: setTimeoutTimestamp throws on a
              // timestamp behind it (a card whose newest event is already
              // more than the TTL behind)
              state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs() + 1,
                Math.floorDiv(newest, 1000L) + stateTtlMs))
            out.iterator
          }
      }
  }

  private def epochMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** A day-time interval string ("600 seconds", "1 hour") in microseconds. */
  private def intervalMicros(s: String): Long = {
    val i = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(i.months == 0, s"window size must not use months: $s")
    i.days * 86400000000L + i.microseconds
  }
}

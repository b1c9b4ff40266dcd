package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{CardStats, StreamTxn}
import graft.stream.{OnlineStore, StreamPipeline, Trending}

/** Streaming plane via MemoryStream (SURVEY §5.4): JSON parse, sliding
  * windows + watermark, latest-wins stateful merge, online store. */
class StreamSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def txn(id: String, cc: Long, amt: Double, at: String) =
    StreamTxn(id, cc, amt, 40.0, -74.0, 40.1, -74.1, ts(at))

  test("json wire parse produces typed rows") {
    val mem = MemoryStream[String](spark)
    val parsed = StreamPipeline.parse(mem.toDF().withColumnRenamed("value", "value"))
    val q = parsed.writeStream.format("memory").queryName("parsed_t").outputMode("append").start()
    mem.addData("""{"txn_id":"t1","cc_num":"7","amount":"12.5","lat":"40.0","long":"-74.0","merch_lat":"40.1","merch_long":"-74.1","timestamp":"2024-01-01T10:00:00.000000"}""")
    q.processAllAvailable(); q.stop()
    val rows = spark.table("parsed_t").as[StreamTxn].collect()
    assert(rows.length == 1)
    assert(rows.head.cc_num == 7L && rows.head.amount == 12.5)
  }

  test("sliding-window count emits per-card windows after watermark passes") {
    val mem = MemoryStream[StreamTxn](spark)
    val counts = StreamPipeline.slidingCount(mem.toDS())
    val q = counts.writeStream.format("memory").queryName("wc_t").outputMode("append").start()
    mem.addData(
      txn("a", 1L, 10.0, "2024-01-01 10:00:05"),
      txn("b", 1L, 20.0, "2024-01-01 10:00:15"),
      txn("c", 2L, 30.0, "2024-01-01 10:00:25"))
    q.processAllAvailable()
    // advance watermark far past the windows so append-mode emits them
    mem.addData(txn("z", 9L, 1.0, "2024-01-01 12:00:00"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("wc_t")
      .select($"cc_num", $"window.start".cast("string").as("ws"), $"txn_count")
      .as[(Long, String, Long)].collect()
    // card 1: both txns fall in the window starting 10:00:00 (size 600s slide 20s)
    assert(out.contains((1L, "2024-01-01 10:00:00", 2L)), s"got ${out.toSeq}")
    assert(out.contains((2L, "2024-01-01 10:00:20", 1L)))
    // card 1 txn@10:00:05 is in the [09:50:20,10:00:20) slide but txn@10:00:15 too
    assert(out.filter(_._1 == 9L).isEmpty || out.nonEmpty)
  }

  test("windowed approx-distinct: per-window HLL user counts on the stream") {
    // The streaming face of the sketch family (operators.Sketches is the
    // batch side): distinct users per tumbling event-time window via
    // approx_count_distinct — sketch-sized state per open window instead
    // of a per-user key set, the only distinct-count shape that survives
    // unbounded cardinality on a stream.
    val mem = MemoryStream[(java.sql.Timestamp, Long)](spark)
    val counts = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "60 seconds"))
      .agg(approx_count_distinct($"user_id").as("n_users"))
    val q = counts.writeStream.format("memory").queryName("wad_t").outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:00:05"), 1L), (t("2024-01-01 10:00:10"), 1L),
      (t("2024-01-01 10:00:20"), 2L), (t("2024-01-01 10:00:30"), 3L),
      (t("2024-01-01 10:01:10"), 4L))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 12:00:00"), 9L)) // advance watermark, close windows
    q.processAllAvailable(); q.stop()
    val out = spark.table("wad_t")
      .select($"window.start".cast("string").as("ws"), $"n_users")
      .as[(String, Long)].collect().toMap
    // 3 distinct users in the 10:00 window, 1 in the 10:01 window —
    // exact at this cardinality (HLL error is ~2% at lgK defaults)
    assert(out("2024-01-01 10:00:00") == 3L, s"got $out")
    assert(out("2024-01-01 10:01:00") == 1L, s"got $out")
  }

  test("chunker runs unchanged as a streaming projection (zero-shuffle ops are stream-ready)") {
    // chunkByTokens is a pure scan-side projection (no shuffle, no
    // state), so the SAME operator chunks documents as they arrive —
    // no streaming variant needed. This is the payoff of keeping batch
    // operators shuffle-free: they compose into readStream pipelines
    // as-is.
    val mem = MemoryStream[(Long, String)](spark)
    val chunks = graft.llm.Chunker.chunkByTokens(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", window = 3, stride = 2)
    val q = chunks.writeStream.format("memory").queryName("schunk_t")
      .outputMode("append").start()
    mem.addData((1L, "a b c d e"), (2L, "x y"))
    q.processAllAvailable()
    mem.addData((3L, "p q r s"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("schunk_t")
      .select($"doc_id", $"chunk_id", $"chunk_text")
      .as[(Long, Int, String)].collect().toSet
    assert(out == Set(
      (1L, 0, "a b c"), (1L, 1, "c d e"),
      (2L, 0, "x y"),
      (3L, 0, "p q r"), (3L, 1, "r s")), out.toString)
  }

  test("stream-static enrichment join: each micro-batch joins the static dim") {
    // The dimension-enrichment shape: an unbounded stream left-joins a
    // static (batch) table — stateless, no watermark needed; Spark
    // re-plans the join per micro-batch and broadcasts the small dim.
    // At 100 TB the dim is the broadcast side by construction (a user
    // table next to an event firehose).
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Double)](spark)
    val enriched = mem.toDF().toDF("user_id", "amount")
      .join(broadcast(dim), Seq("user_id"), "left_outer")
      .withColumn("tier", coalesce($"tier", lit("unknown")))
    val q = enriched.writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    mem.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
    q.processAllAvailable()
    mem.addData((1L, 40.0)) // second batch joins the same static snapshot
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssj_t").select($"user_id", $"amount", $"tier")
      .as[(Long, Double, String)].collect().toSet
    assert(out == Set((1L, 10.0, "gold"), (2L, 20.0, "basic"),
      (3L, 30.0, "unknown"), (1L, 40.0, "gold")), out.toString)
  }

  test("stateful merge is latest-wins and only emits when all slots present") {
    val mem = MemoryStream[StreamPipeline.Slot](spark)
    val merged = StreamPipeline.mergeStats(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = merged.writeStream.format("memory").queryName("merge_t").outputMode("append").start()
    val t1 = txn("t1", 5L, 100.0, "2024-01-01 10:00:00")
    mem.addData(StreamPipeline.Slot(5L, Some(t1), None, None, t1.ts))
    q.processAllAvailable()
    assert(spark.table("merge_t").count() == 0, "emitted before all slots present")
    mem.addData(StreamPipeline.Slot(5L, None, Some(3L), None, t1.ts))
    mem.addData(StreamPipeline.Slot(5L, None, None, Some(55.5), t1.ts))
    q.processAllAvailable()
    val rows = spark.table("merge_t").as[CardStats].collect()
    assert(rows.length >= 1)
    val last = rows.maxBy(_.txn_count_last_10_min)
    assert(last.cc_num == 5L && last.txn_id == "t1" && last.avg_amt_last_1_hour == 55.5)
    // latest-wins: a new raw txn re-emits with updated txn but kept stats
    val t2 = txn("t2", 5L, 200.0, "2024-01-01 10:01:00")
    mem.addData(StreamPipeline.Slot(5L, Some(t2), None, None, t2.ts))
    q.processAllAvailable(); q.stop()
    val all = spark.table("merge_t").as[CardStats].collect()
    assert(all.exists(r => r.txn_id == "t2" && r.avg_amt_last_1_hour == 55.5))
  }

  test("end-to-end pipeline: windows + merge + online-store sink in one query") {
    val mem = MemoryStream[StreamTxn](spark)
    val stats = StreamPipeline.pipeline(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val tmp = java.nio.file.Files.createTempDirectory("graft_e2e_").toString
    val store = new OnlineStore(spark, tmp + "/log", ttlSeconds = 86400)
    val q = store.sink(stats, tmp + "/ckpt").start()
    mem.addData(
      txn("t1", 1L, 50.0, "2024-01-01 10:00:05"),
      txn("t2", 1L, 70.0, "2024-01-01 10:00:15"),
      txn("t3", 2L, 30.0, "2024-01-01 10:00:25"))
    q.processAllAvailable()
    // advance watermark so windows close and stats flow through the merge
    mem.addData(txn("zz", 9L, 1.0, "2024-01-01 12:00:00"))
    q.processAllAvailable(); q.stop()
    val now = ts("2024-01-01 12:30:00").getTime / 1000
    val latest = store.stats(now)
    val cards = latest.collect().map(_.getAs[Long]("cc_num")).toSet
    assert(cards.contains(1L) && cards.contains(2L), s"got $cards")
    val c1 = store.stats(now).filter(col("cc_num") === 1L).head()
    assert(c1.getAs[Long]("txn_count_last_10_min") == 2L,
      s"card 1 window count ${c1}")
    assert(math.abs(c1.getAs[Double]("avg_amt_last_1_hour") - 60.0) < 1e-9)
  }

  test("pipeline: one row per event, half-open trailing windows, equal to a plain-Scala recomputation") {
    val mem = MemoryStream[StreamTxn](spark)
    val stats = StreamPipeline.pipeline(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = stats.writeStream.format("memory").queryName("pipe_contract_t")
      .outputMode("append").start()
    // every event at its own coordinates, so the distances differ
    def ev(id: String, cc: Long, amt: Double, at: Timestamp) = {
      val k = math.abs(id.hashCode % 100) / 100.0
      StreamTxn(id, cc, amt, 40.0 + k, -74.0 - k, 40.5 - k, -73.5 + k, at)
    }
    def at(s: String) = ts(s)
    // hot card 1: an event every 90 s, spread over all three batches and
    // listed newest first within each
    def hot(is: Range) = is.reverse.map(i =>
      ev(s"h$i", 1L, 10.0 + i, new Timestamp(at("2024-01-01 10:00:00").getTime + i * 90000L)))
    val batches = Seq(
      hot(0 until 8) ++ Seq(
        // out of order within the batch (one with a sub-second part)
        ev("o3", 2L, 30.0, at("2024-01-01 10:02:00")),
        ev("o1", 2L, 10.0, at("2024-01-01 10:00:00.25")),
        ev("o2", 2L, 20.0, at("2024-01-01 10:01:00")),
        // an equal-ts pair
        ev("e2", 3L, 5.0, at("2024-01-01 10:00:00")),
        ev("e1", 3L, 7.0, at("2024-01-01 10:00:00")),
        // exactly 600 s apart
        ev("c1", 4L, 1.0, at("2024-01-01 10:00:00")),
        ev("c2", 4L, 2.0, at("2024-01-01 10:10:00")),
        ev("a1", 5L, 100.0, at("2024-01-01 10:00:00")),
        ev("l1", 6L, 10.0, at("2024-01-01 10:00:00")),
        ev("l2", 6L, 20.0, at("2024-01-01 10:08:00")),
        ev("p1", 7L, 50.0, at("2024-01-01 10:00:00"))),
      hot(8 until 14) ++ Seq(
        ev("a2", 5L, 300.0, at("2024-01-01 11:00:00")),  // exactly 3600 s after a1
        ev("l3", 6L, 40.0, at("2024-01-01 10:04:00")),   // late: behind l2
        ev("p2", 7L, 70.0, at("2024-01-01 11:30:00"))),  // p1 leaves the horizon
      hot(14 until 20) ++ Seq(
        ev("e3", 3L, 9.0, at("2024-01-01 10:00:00")),    // equal ts, a later batch
        ev("p3", 7L, 90.0, at("2024-01-01 10:05:00"))))  // late, p1 already pruned
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()

    // the contract, recomputed batch by batch: an event's known events
    // are the card's retained pairs plus its whole batch; retention keeps
    // the pairs within 3600 s of the card's newest event
    def miles(e: StreamTxn) = {
      val (p1, p2) = (math.toRadians(e.lat), math.toRadians(e.merch_lat))
      val a = math.pow(math.sin((p2 - p1) / 2), 2) + math.cos(p1) * math.cos(p2) *
        math.pow(math.sin(math.toRadians(e.merch_long - e.lon) / 2), 2)
      2 * 3963.0 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    }
    var retained = Map.empty[Long, Vector[(Long, Double)]]
    val expected = batches.flatMap { b =>
      b.groupBy(_.cc_num).toSeq.flatMap { case (cc, evs) =>
        val known = retained.getOrElse(cc, Vector.empty) ++ evs.map(e => (e.ts.getTime, e.amount))
        val rows = evs.map { e =>
          val t = e.ts.getTime
          val in10m = known.filter { case (k, _) => k > t - 600000L && k <= t }
          val in1h = known.filter { case (k, _) => k > t - 3600000L && k <= t }
          CardStats(cc, e.txn_id, e.amount, miles(e), in10m.size.toLong,
            in1h.map(_._2).sum / in1h.size, e.ts)
        }
        val newest = known.map(_._1).max
        retained += cc -> known.filter(_._1 > newest - 3600000L)
        rows
      }
    }.map(r => r.txn_id -> r).toMap

    val rows = spark.table("pipe_contract_t").as[CardStats].collect()
    assert(rows.length == batches.map(_.length).sum, s"${rows.length} rows")
    assert(rows.map(_.txn_id).distinct.length == rows.length, "a txn_id was emitted twice")
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    rows.foreach { r =>
      val e = expected(r.txn_id)
      assert(r.cc_num == e.cc_num && r.amount == e.amount && r.last_update == e.last_update &&
        r.txn_count_last_10_min == e.txn_count_last_10_min &&
        close(r.avg_amt_last_1_hour, e.avg_amt_last_1_hour) &&
        close(r.distance_to_merchant, e.distance_to_merchant), s"got $r, expected $e")
    }
    // the cases, pinned by value as well
    val got = rows.map(r => r.txn_id -> r).toMap
    def n(id: String) = got(id).txn_count_last_10_min
    def avg(id: String) = got(id).avg_amt_last_1_hour
    assert(n("h19") == 7L, "hot card: 7 events in (t - 600 s, t] at 90 s spacing")
    assert(Seq("o1", "o2", "o3").map(n) == Seq(1L, 2L, 3L))
    assert(n("e1") == 2L && n("e2") == 2L && n("e3") == 3L)
    assert(n("c2") == 1L && avg("c2") == 1.5, "600 s apart: not in each other's count")
    assert(n("a2") == 1L && avg("a2") == 300.0, "3600 s apart must not average each other")
    assert(n("l3") == 2L && avg("l3") == 25.0, "late event: l1 and itself, not the later l2")
    assert(n("l2") == 2L, "the row emitted before the late event is not revised")
    assert(n("p3") == 1L && avg("p3") == 90.0, "p1 was pruned past the 1-hour horizon")
  }

  test("pipeline plan: one source scan, one stateful operator, one micro-batch per trickle") {
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val mem = MemoryStream[String](spark)
    val stats = StreamPipeline.pipeline(StreamPipeline.parse(mem.toDF()),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = stats.writeStream.format("memory").queryName("pipe_shape_t")
      .outputMode("append").start()
    def wire(i: Int) =
      s"""{"txn_id":"s$i","cc_num":"${i % 3}","amount":"${i + 1}.0","lat":"40.0",""" +
        s""""long":"-74.0","merch_lat":"40.1","merch_long":"-74.1",""" +
        f""""timestamp":"2024-01-01T10:${i / 60}%02d:${i % 60}%02d"}"""
    // a batch that ran (a no-data batch included) times its sink write;
    // an idle trigger's progress has no addBatch
    def batchesRun = q.recentProgress.count(_.durationMs.containsKey("addBatch"))
    val trickles = Seq(0 until 20, 20 until 40, 40 until 60)
    val perTrickle = trickles.map { r =>
      val before = batchesRun
      mem.addData(r.map(wire): _*)
      q.processAllAvailable()
      batchesRun - before
    }
    val progress = q.recentProgress.toSeq
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    q.stop()
    assert(perTrickle == Seq(1, 1, 1), s"micro-batches per trickle: $perTrickle")
    assert(progress.map(_.numInputRows).sum == 60L, "each event must be read once")
    // (the operator's other leaf is its empty initial-state relation)
    assert(plan.collect { case s: MicroBatchScanExec => s }.length == 1, plan.treeString)
    assert(plan.collect { case s: StateStoreWriter => s }.length == 1, plan.treeString)
    assert(progress.last.stateOperators.length == 1)
    assert(spark.table("pipe_shape_t").count() == 60L, "one row per event")
  }

  test("pipeline under EventTimeTimeout: rows behind the 5 s watermark drop, idle cards evict") {
    val mem = MemoryStream[StreamTxn](spark)
    val stats = StreamPipeline.pipeline(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)
    val q = stats.writeStream.format("memory").queryName("pipe_ett_t")
      .outputMode("append").start()
    mem.addData(txn("a", 5L, 10.0, "2024-01-01 10:00:00"), txn("b", 5L, 30.0, "2024-01-01 10:00:30"))
    q.processAllAvailable()
    // watermark 10:00:25: the late row drops; card 9 moves event time a
    // day on, past card 5's newest event + the 1-day TTL
    mem.addData(txn("late", 5L, 1.0, "2024-01-01 10:00:10"), txn("c", 9L, 5.0, "2024-01-02 12:00:00"))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val rows = spark.table("pipe_ett_t").as[CardStats].collect().map(r => r.txn_id -> r).toMap
    assert(rows.keySet == Set("a", "b", "c"), rows.keySet.toString)
    assert(rows("b").txn_count_last_10_min == 2L && rows("b").avg_amt_last_1_hour == 20.0)
    assert(stateRows == 1L, s"card 5 should have timed out, state rows $stateRows")
  }

  test("json-lines file source drives the wire-format parse (S5 shape)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_src_").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "b.txt"),
      """{"txn_id":"f1","cc_num":"3","amount":"9.5","lat":"40.0","long":"-74.0","merch_lat":"40.1","merch_long":"-74.1","timestamp":"2024-01-01T09:00:00.000000"}""")
    val raw = spark.readStream.schema("value STRING").format("text").load(tmp)
    val q = StreamPipeline.parse(raw).writeStream
      .format("memory").queryName("file_src_t").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("file_src_t").as[StreamTxn].collect()
    assert(rows.length == 1 && rows.head.txn_id == "f1" && rows.head.cc_num == 3L)
  }

  test("streaming exact dedup drops repeated fingerprints within the watermark") {
    val mem = MemoryStream[StreamTxn](spark)
    val withFp = mem.toDS().toDF()
      .withColumn("fp", md5(concat_ws("|", col("cc_num"), col("amount"))))
    val deduped = graft.llm.Dedup.streamingExactDedup(withFp, "ts", "10 seconds", Seq("fp"))
    val q = deduped.writeStream.format("memory").queryName("sdedup_t").outputMode("append").start()
    mem.addData(
      txn("a1", 1L, 10.0, "2024-01-01 10:00:00"),
      txn("a2", 1L, 10.0, "2024-01-01 10:00:01"), // same (cc, amt) fingerprint → dropped
      txn("b1", 2L, 20.0, "2024-01-01 10:00:02"))
    q.processAllAvailable()
    mem.addData(txn("a3", 1L, 10.0, "2024-01-01 10:00:03")) // still inside horizon → dropped
    q.processAllAvailable(); q.stop()
    val ids = spark.table("sdedup_t").select("txn_id").as[String].collect().sorted
    assert(ids.toSeq == Seq("a1", "b1"), ids.mkString(","))
  }

  test("pinned wire-format fixture parses losslessly (S5 contract)") {
    // src/test/resources/wire_fixture.jsonl pins the producer's exact
    // wire shape (producer.py:19-30: every field a string, micros
    // timestamps) so a drift in the parse schema fails here, not at a
    // deploy with a live broker.
    val url = getClass.getResource("/wire_fixture.jsonl")
    assert(url != null, "wire_fixture.jsonl missing from test resources")
    val raw = spark.read.text(url.getPath).withColumnRenamed("value", "value")
    val mem = MemoryStream[String](spark)
    val q = StreamPipeline.parse(mem.toDF()).writeStream
      .format("memory").queryName("wire_fix_t").outputMode("append").start()
    mem.addData(raw.as[String].collect().toSeq: _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("wire_fix_t").as[StreamTxn].collect().sortBy(_.txn_id)
    assert(rows.length == 5, s"got ${rows.length}")
    assert(rows.map(_.txn_id).toSeq == Seq("wf-001", "wf-002", "wf-003", "wf-004", "wf-005"))
    val wf4 = rows(3)
    assert(wf4.cc_num == 6011483920184L && wf4.amount == 999.99)
    assert(wf4.ts == ts("2024-03-01 10:05:45.5"))
    // sub-second precision survives end-to-end
    assert(rows(4).ts.getNanos == 999999000)
  }

  test("kafka source (S5): smoke when the connector is present, gap pinned when not") {
    // The sandbox has no spark-sql-kafka jar (zero egress). The S5
    // ingress CONTRACT executes end to end against the in-repo
    // Kafka-shaped `graft-log` source (LogSourceSpec: consume → parse →
    // stateful agg, checkpointed restart, admission control) — what
    // remains environment-bound is only the literal Kafka connector
    // class. On a deployment classpath this test upgrades to a real
    // construction smoke automatically; here it asserts the failure
    // mode is EXACTLY the missing connector (not a parse/config bug
    // hiding behind it) and that the deviation stays documented.
    val connectorPresent =
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
      catch { case _: ClassNotFoundException => false }
    if (connectorPresent) {
      val df = StreamPipeline.kafkaSource(spark, "localhost:0", "txn_topic",
        startingOffsets = "earliest", maxOffsetsPerTrigger = Some(100L))
      assert(df.isStreaming, "kafka source must be a streaming DataFrame")
      assert(df.schema.fieldNames.contains("value"))
      // the wire-format parse contract composes directly on the source
      val parsed = StreamPipeline.parse(df)
      assert(parsed.schema.fieldNames.sameElements(
        Seq("txn_id", "cc_num", "amount", "lat", "lon", "merch_lat", "merch_long", "ts")))
    } else {
      val e = intercept[Exception] {
        StreamPipeline.kafkaSource(spark, "localhost:0", "txn_topic").schema
      }
      val msg = (e.getMessage + " " + e.getClass.getName).toLowerCase
      assert(msg.contains("kafka"),
        s"expected a missing-kafka-connector failure, got: $e")
      val readme = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("README.md")), "UTF-8")
      assert(readme.toLowerCase.contains("kafka"),
        "README deviation note for the Kafka connector went missing")
    }
  }

  test("trending tokens: closed windows emit final counts; top-k ranks them") {
    val mem = MemoryStream[(Long, String, Timestamp)](spark)
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    val counts = Trending.tokenWindowCounts(docs, "text", "ts",
      watermarkDelay = "0 seconds", size = "60 seconds", slide = "60 seconds",
      minCount = 2L)
    val q = counts.writeStream.format("memory").queryName("trend_t")
      .outputMode("append").start()
    mem.addData(
      (1L, "spam spam spam ham", ts("2024-01-01 10:00:05")),
      (2L, "spam eggs ham", ts("2024-01-01 10:00:20")),
      (3L, "quiet words only here", ts("2024-01-01 10:00:40")))
    q.processAllAvailable()
    // watermark far past the 10:00 window → its final counts emit
    mem.addData((9L, "later doc", ts("2024-01-01 12:00:00")))
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("trend_t")
    val m = emitted
      .select($"window.start".cast("string").as("ws"), $"token", $"n")
      .as[(String, String, Long)].collect()
      .filter(_._1 == "2024-01-01 10:00:00").map(t => t._2 -> t._3).toMap
    // minCount=2 prunes the singleton tail: only spam(4) and ham(2) survive
    assert(m == Map("spam" -> 4L, "ham" -> 2L), s"got $m")
    val top1 = Trending.topKPerWindow(emitted, k = 1)
      .select($"window.start".cast("string"), $"token", $"n", $"rank")
      .as[(String, String, Long, Int)].collect()
      .filter(_._1 == "2024-01-01 10:00:00")
    assert(top1.toList == List(("2024-01-01 10:00:00", "spam", 4L, 1)), s"got ${top1.toList}")
  }

  test("pre-fit scaler moments apply inside a streaming projection") {
    import graft.llm.Similarity
    // fit on a small "training corpus" batch-side
    val train = Seq((0L, Array(1.0f, 5.0f)), (1L, Array(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val moments = Similarity.fitMoments(train, "embedding")
    // apply to a STREAM of fresh vectors — stateless projection
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val z = Similarity.standardizeWith(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", moments)
    val q = z.writeStream.format("memory").queryName("zstream_t")
      .outputMode("append").start()
    mem.addData((10L, Array(1.0f, 9.0f)), (11L, Array(2.0f, 5.0f)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("zstream_t").collect()
      .map(r => r.getLong(0) -> r.getSeq[java.lang.Double](1).toList).toMap
    // dim 0: mean 2, std 1 → z(1)=-1, z(2)=0; dim 1 constant → null
    assert(out(10L) == List[java.lang.Double](-1.0, null), s"got ${out(10L)}")
    assert(out(11L) == List[java.lang.Double](0.0, null), s"got ${out(11L)}")
  }

  test("streaming quota admits the first N per source across micro-batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import graft.stream.QuotaSampler
      val mem = MemoryStream[(Long, String, Timestamp)](spark)
      val kept = QuotaSampler.perSourceQuota(
        mem.toDF().toDF("doc_id", "source", "ts"),
        "doc_id", "source", "ts", quota = 2, stateTtl = None)
      val q = kept.writeStream.format("memory").queryName("quota_t")
        .outputMode("append").start()
      mem.addData((1L, "a", ts("2024-01-01 10:00:01")),
        (2L, "a", ts("2024-01-01 10:00:02")),
        (10L, "b", ts("2024-01-01 10:00:03")))
      q.processAllAvailable()
      mem.addData((3L, "a", ts("2024-01-01 10:00:04")),  // over quota → dropped
        (11L, "b", ts("2024-01-01 10:00:05")),           // b's 2nd → kept
        (12L, "b", ts("2024-01-01 10:00:06")))           // over quota → dropped
      q.processAllAvailable(); q.stop()
      val out = spark.table("quota_t")
        .select($"doc_id", $"source", $"n_taken")
        .as[(Long, String, Long)].collect().toSet
      assert(out == Set((1L, "a", 1L), (2L, "a", 2L),
        (10L, "b", 1L), (11L, "b", 2L)), s"got $out")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("online store compaction keeps only retained rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_oc_").toString + "/log"
    val store = new OnlineStore(spark, tmp, ttlSeconds = 3600)
    def stats(id: String, cc: Long, at: String) = CardStats(cc, id, 1.0, 1.0, 1L, 1.0, ts(at))
    store.upsertBatch(Seq(stats("keep", 1L, "2024-01-01 11:30:00"),
      stats("drop", 1L, "2024-01-01 09:00:00")).toDS(), 0L)
    val now = ts("2024-01-01 12:00:00").getTime / 1000
    store.compact(now)
    val left = spark.read.parquet(tmp).select("txn_id").collect().map(_.getString(0))
    assert(left.toSeq == Seq("keep"))
  }

  test("EventTimeTimeout evicts merge state when the watermark passes the TTL") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import StreamPipeline.Slot
    val mem = MemoryStream[Slot](spark)
    val merged = StreamPipeline.mergeStats(mem.toDS(), stateTtlMs = 60000L,
      timeout = GroupStateTimeout.EventTimeTimeout)
    val q = merged.writeStream.format("memory").queryName("ett_t").outputMode("append").start()
    val t1 = txn("t1", 5L, 100.0, "2024-01-01 10:00:00")
    mem.addData(Slot(5L, Some(t1), None, None, t1.ts),
      Slot(5L, None, Some(3L), None, t1.ts),
      Slot(5L, None, None, Some(55.5), t1.ts))
    q.processAllAvailable()
    assert(spark.table("ett_t").count() >= 1, "all slots present should emit")
    // advance the watermark (event time, not wall clock) past 10:01:00
    val w = txn("w", 9L, 1.0, "2024-01-01 12:00:00")
    mem.addData(Slot(9L, Some(w), None, None, w.ts))
    q.processAllAvailable()
    mem.addData(Slot(9L, Some(w), None, None, w.ts)) // batch where the timeout fires
    q.processAllAvailable()
    // card 5's state is gone: a lone txn slot can no longer emit
    val t2 = txn("late", 5L, 1.0, "2024-01-01 12:00:01")
    mem.addData(Slot(5L, Some(t2), None, None, t2.ts))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ett_t").as[CardStats].collect()
    assert(!rows.exists(_.txn_id == "late"),
      s"state survived the event-time TTL: ${rows.mkString(",")}")
  }

  test("compact cleans stale tmp/bak leftovers from a previous crash") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_occ_").toString + "/log"
    val store = new OnlineStore(spark, tmp, ttlSeconds = 3600)
    def stats(id: String, cc: Long, at: String) = CardStats(cc, id, 1.0, 1.0, 1L, 1.0, ts(at))
    store.upsertBatch(Seq(stats("keep", 1L, "2024-01-01 11:30:00")).toDS(), 0L)
    // simulate a crash mid-compact: stale half-written tmp + bak dirs
    for (suffix <- Seq(".compact", ".bak")) {
      val d = new java.io.File(tmp + suffix)
      d.mkdirs()
      java.nio.file.Files.writeString(d.toPath.resolve("junk"), "partial")
    }
    val now = ts("2024-01-01 12:00:00").getTime / 1000
    store.compact(now)
    val left = spark.read.parquet(tmp).select("txn_id").collect().map(_.getString(0))
    assert(left.toSeq == Seq("keep"))
    assert(!new java.io.File(tmp + ".compact").exists())
    assert(!new java.io.File(tmp + ".bak").exists())
  }

  test("compact recovers the log when a previous compact died between renames") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ocr_").toString + "/log"
    val store = new OnlineStore(spark, tmp, ttlSeconds = 3600)
    def stats(id: String, cc: Long, at: String) = CardStats(cc, id, 1.0, 1.0, 1L, 1.0, ts(at))
    store.upsertBatch(Seq(stats("keep", 1L, "2024-01-01 11:30:00"),
      stats("drop", 1L, "2024-01-01 09:00:00")).toDS(), 0L)
    // simulate the exact crash window: compacted copy fully written to
    // .compact, old log renamed to .bak, promotion rename never ran —
    // main is GONE; .bak holds the only full copy
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = ts("2024-01-01 12:00:00").getTime / 1000
    spark.read.parquet(tmp).filter($"txn_id" === "keep")
      .write.partitionBy("ingest_date").parquet(tmp + ".compact")
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(tmp + ".bak")))
    // a retried compact must NOT delete the only copies; it recovers + compacts
    store.compact(now)
    val left = spark.read.parquet(tmp).select("txn_id").collect().map(_.getString(0))
    assert(left.toSeq == Seq("keep"), s"lost data after crash recovery: ${left.toSeq}")
    assert(!new java.io.File(tmp + ".compact").exists())
    assert(!new java.io.File(tmp + ".bak").exists())
  }

  test("streaming near-dup screen flags an arriving near-dup of an in-horizon doc") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import graft.stream.{NearDupFlag, StreamDedup}
      val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
        "kilo lima mike november oscar papa quebec romeo sierra tango uniform " +
        "victor whiskey xray yankee zulu one two three four"
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
      val docs = mem.toDF().toDF("doc_id", "text", "ts")
      val flags = StreamDedup.nearDupScreen(docs, "doc_id", "text", "ts",
        watermarkDelay = "10 seconds", n = 8, nBands = 4, stateTtl = None)
      val q = flags.writeStream.format("memory").queryName("sndd_t")
        .outputMode("append").start()
      // batch 1: two distinct docs seed the bucket state — no flags
      mem.addData(
        (1L, base, ts("2024-01-01 10:00:00")),
        (2L, "totally different content about spark plans and shuffles " +
          "exchanged sorted aggregated broadcast joined pruned pushed down", ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      assert(spark.table("sndd_t").count() == 0,
        "distinct seed docs must not flag each other")
      // batch 2: doc 3 = near-dup of doc 1 (one trailing word changed,
      // ~90% shingle overlap), doc 4 = fresh content
      mem.addData(
        (3L, base.replace("four", "fourteen"), ts("2024-01-01 10:00:05")),
        (4L, "fresh unrelated corpus text with merge state ttl eviction " +
          "watermark horizon rocksdb store provider checkpoint", ts("2024-01-01 10:00:06")))
      q.processAllAvailable(); q.stop()
      val out = spark.table("sndd_t").as[NearDupFlag].collect()
      assert(out.nonEmpty, "near-dup arrival produced no flags")
      assert(out.forall(_.doc_id == 3L),
        s"only doc 3 should be flagged, got ${out.toSeq}")
      assert(out.forall(_.dup_of == 1L),
        s"doc 3 must be flagged against doc 1, got ${out.toSeq}")
      // at least one band collided; at most one flag per band
      assert(out.map(_.band).distinct.length == out.length)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState merge matches flatMapGroupsWithState semantics (RocksDB)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import StreamPipeline.Slot
      val mem = MemoryStream[Slot](spark)
      // stateTtl=None: TimeMode.None so processAllAvailable() terminates
      // (TTL's ProcessingTime mode schedules continuous no-data batches)
      val merged = StreamPipeline.mergeStatsTws(mem.toDS(), stateTtl = None)
      val q = merged.writeStream.format("memory").queryName("tws_t")
        .outputMode("append").start()
      val t1 = txn("t1", 5L, 100.0, "2024-01-01 10:00:00")
      // txn slot alone: no emission (not all slots present)
      mem.addData(Slot(5L, Some(t1), None, None, t1.ts))
      q.processAllAvailable()
      assert(spark.table("tws_t").count() == 0, "emitted before all slots present")
      // count + avg slots arrive across separate batches: state persists
      mem.addData(Slot(5L, None, Some(3L), None, t1.ts))
      q.processAllAvailable()
      mem.addData(Slot(5L, None, None, Some(55.5), t1.ts))
      q.processAllAvailable()
      val rows = spark.table("tws_t").as[CardStats].collect()
      assert(rows.length == 1, s"expected one emission, got ${rows.toSeq}")
      assert(rows(0).txn_id == "t1" && rows(0).txn_count_last_10_min == 3L
        && rows(0).avg_amt_last_1_hour == 55.5)
      // latest-wins: a fresher count slot re-emits with updated count
      mem.addData(Slot(5L, None, Some(7L), None, t1.ts))
      q.processAllAvailable(); q.stop()
      val all = spark.table("tws_t").as[CardStats].collect().sortBy(_.txn_count_last_10_min)
      assert(all.length == 2 && all(1).txn_count_last_10_min == 7L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming session windows split on event-time gaps and close by watermark") {
    val mem = MemoryStream[StreamTxn](spark)
    val sessions = StreamPipeline.sessionCounts(mem.toDS(), gap = "10 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    // card 7: two events 5 s apart (one session), then one 30 s later
    mem.addData(
      txn("s1", 7L, 10.0, "2024-01-01 10:00:00"),
      txn("s2", 7L, 20.0, "2024-01-01 10:00:05"),
      txn("s3", 7L, 40.0, "2024-01-01 10:00:35"))
    q.processAllAvailable()
    // push the watermark far past all sessions so they emit
    mem.addData(txn("adv", 9L, 1.0, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    mem.addData(txn("adv2", 9L, 1.0, "2024-01-01 12:30:00"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sess_t")
      .filter($"cc_num" === 7L)
      .orderBy($"session_start")
      .collect()
    assert(rows.length == 2, s"expected 2 sessions, got ${rows.toSeq}")
    assert(rows(0).getAs[Long]("n_txns") == 2 && rows(0).getAs[Double]("total_amount") == 30.0)
    assert(rows(1).getAs[Long]("n_txns") == 1 && rows(1).getAs[Double]("total_amount") == 40.0)
    // session end = last event + gap
    assert(rows(0).getAs[Timestamp]("session_end") == ts("2024-01-01 10:00:15"))
  }

  test("retained keeps the LATEST row per txn_id, not an arbitrary one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lw_").toString + "/log"
    val store = new OnlineStore(spark, tmp, ttlSeconds = 86400)
    // mergeStats re-emits txn t1 as its stats slots update: same txn_id,
    // increasing txn_count/last_update across micro-batches
    store.upsertBatch(Seq(CardStats(1L, "t1", 10.0, 1.0, 1L, 10.0, ts("2024-01-01 10:00:00"))).toDS(), 0L)
    store.upsertBatch(Seq(CardStats(1L, "t1", 10.0, 1.0, 3L, 25.0, ts("2024-01-01 10:00:20"))).toDS(), 1L)
    val now = ts("2024-01-01 11:00:00").getTime / 1000
    val r = store.retained(now).collect()
    assert(r.length == 1, r.mkString(","))
    assert(r.head.getAs[Long]("txn_count_last_10_min") == 3L)
    val s = store.stats(now).head()
    assert(s.getAs[Double]("avg_amt_last_1_hour") == 25.0)
  }

  test("online store: idempotent upsert, latest stats, top-k, TTL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_os_").toString + "/log"
    val store = new OnlineStore(spark, tmp, ttlSeconds = 3600)
    val now = ts("2024-01-01 12:00:00").getTime / 1000
    def stats(id: String, cc: Long, amt: Double, at: String) =
      CardStats(cc, id, amt, 1.0, 1L, amt, ts(at))
    val batch = Seq(
      stats("a", 1L, 10.0, "2024-01-01 11:30:00"),
      stats("b", 1L, 20.0, "2024-01-01 11:45:00"),
      stats("old", 1L, 99.0, "2024-01-01 09:00:00"), // beyond TTL at `now`
      stats("c", 2L, 30.0, "2024-01-01 11:50:00")).toDS()
    store.upsertBatch(batch, 0L)
    store.upsertBatch(batch, 1L) // replay — must not double-count
    assert(store.retained(now).count() == 3) // old dropped, replay deduped
    val latest = store.stats(now).collect().map(r =>
      r.getAs[Long]("cc_num") -> r.getAs[String]("txn_id")).toMap
    assert(latest == Map(1L -> "b", 2L -> "c"))
    val top = store.topKRecent(1L, 5, now).collect().map(_.getAs[String]("txn_id"))
    assert(top.toSeq == Seq("b", "a"))
  }

  test("stream-stream interval join pairs each txn with same-card priors in range") {
    val mem = MemoryStream[StreamTxn](spark)
    val joined = StreamPipeline.intervalJoin(mem.toDS(), mem.toDS(), before = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_t").outputMode("append").start()
    mem.addData(
      txn("a", 1L, 10.0, "2024-01-01 10:00:00"),
      txn("b", 1L, 20.0, "2024-01-01 10:05:00"),  // a is 5 min prior
      txn("c", 1L, 30.0, "2024-01-01 10:20:00"),  // a,b outside 10 min
      txn("d", 2L, 40.0, "2024-01-01 10:05:00"))  // other card
    // advance both watermarks so buffered state flushes
    mem.addData(txn("z", 9L, 1.0, "2024-01-01 13:00:00"))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("ij_t")
      .select($"txn_id", $"prior_txn_id").as[(String, String)].collect().toSet
    assert(pairs == Set(("b", "a")), s"got $pairs")
  }

  test("jdbc micro-batch writes are idempotent per batch_id (crash-replay safe)") {
    System.setProperty("derby.stream.error.file",
      java.nio.file.Files.createTempDirectory("graft_derbylog_").toString + "/derby.log")
    val db = java.nio.file.Files.createTempDirectory("graft_sjdbc_").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    def stats(id: String) = CardStats(1L, id, 10.0, 1.0, 1L, 10.0, ts("2024-01-01 10:00:00"))
    val b0 = Seq(stats("a"), stats("b")).toDS().toDF()
    StreamPipeline.writeJdbcBatch(b0, 0L, url, "card_stats")
    StreamPipeline.writeJdbcBatch(b0, 0L, url, "card_stats") // replayed attempt
    StreamPipeline.writeJdbcBatch(Seq(stats("c")).toDS().toDF(), 1L, url, "card_stats")
    val back = spark.read.jdbc(url, "card_stats", new java.util.Properties())
    assert(back.count() == 3, "batch replay double-counted")
    assert(back.select("batch_id").distinct().as[Long].collect().toSet == Set(0L, 1L))
    // and the streaming wiring end-to-end: foreachBatch drives the same writer
    val mem = MemoryStream[CardStats](spark)
    val cp = java.nio.file.Files.createTempDirectory("graft_sjdbc_cp_").toString
    val q = StreamPipeline.jdbcSink(mem.toDS(), url, "card_stats_s", cp)
    mem.addData(stats("x"), stats("y"))
    q.processAllAvailable(); q.stop()
    assert(spark.read.jdbc(url, "card_stats_s", new java.util.Properties()).count() == 2)
  }

  test("streaming bloom screen flags benchmark overlap, passes clean and short docs") {
    import graft.stream.StreamScreen
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val benchSh = graft.llm.Dedup.shingleRows(bench, "doc_id", "text")
      .select($"sh").distinct()
    val bloom = graft.expr.Bloom.build(benchSh, "sh", benchSh.count())
    val mem = MemoryStream[(Long, String)](spark)
    val screened = StreamScreen.bloomScreen(
      mem.toDF().toDF("doc_id", "text"), "text", bloom, minOverlap = 3)
    val q = screened.writeStream.format("memory").queryName("bscreen_t")
      .outputMode("append").start()
    mem.addData(
      (10L, "copied segment the quick brown fox jumps over the lazy dog here"),
      (11L, "completely unrelated words about shuffle partitions and state"),
      (12L, "too short")) // < 3 tokens-ish path: shingles empty, passes
    q.processAllAvailable(); q.stop()
    val out = spark.table("bscreen_t")
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out(10L)._2, s"overlapping doc must flag: ${out(10L)}")
    assert(out(10L)._1 >= 3)
    assert(!out(11L)._2, s"clean doc must pass: ${out(11L)}")
    assert(!out(12L)._2 && out(12L)._1 == 0, "sub-3-token doc passes unscreened")
  }

  test("streaming exact screen matches the batch contaminationFlags verdicts") {
    import graft.stream.StreamScreen
    val bench = Tables.load(spark, sf0001, "documents")
      .filter($"doc_id" % 37 === 0).select($"doc_id", $"text")
    val docs = Tables.load(spark, sf0001, "documents")
      .filter($"doc_id" < 200).select($"doc_id", $"text")
    val batchFlags = graft.llm.Dedup.contaminationFlags(
      docs, bench, "doc_id", "text", minOverlap = 6)
      .select($"doc_id", $"n_hits", $"contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val mem = MemoryStream[(Long, String)](spark)
    val screened = StreamScreen.exactScreen(mem.toDF().toDF("doc_id", "text"),
      "text", bench, "doc_id", "text", minOverlap = 6)
    val q = screened.writeStream.format("memory").queryName("escreen_t")
      .outputMode("append").start()
    mem.addData(docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamFlags = spark.table("escreen_t")
      .select($"doc_id", $"n_hits", $"contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1).toLong, r.getBoolean(2)))).toMap
    assert(streamFlags.keySet == batchFlags.keySet)
    val diffs = streamFlags.filter { case (k, v) => batchFlags(k) != v }
    assert(diffs.isEmpty, s"stream/batch verdict mismatch: ${diffs.take(5)}")
  }

  test("streaming funnel advances per user across micro-batches, honors order and window") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import graft.stream.StreamFunnel
      val mem = MemoryStream[(Long, String, Long)](spark)
      val adv = StreamFunnel.funnelScreen(
        mem.toDF().toDF("user_id", "event_type", "ts_sec"),
        "user_id", "event_type", "ts_sec",
        steps = Seq("view", "click", "purchase"), windowSec = 1000L,
        stateTtl = None)
      val q = adv.writeStream.format("memory").queryName("funnel_t")
        .outputMode("append").start()
      // u1: view+click in batch 1 (out of order in the batch — sorted by
      // ts before processing); u2 clicks without viewing; u3 views
      mem.addData((1L, "click", 200L), (1L, "view", 100L),
        (2L, "click", 100L), (3L, "view", 100L))
      q.processAllAvailable()
      // u1 purchases (cross-batch state carries step 2 + ts 200);
      // u3 clicks too late (view at 100, window 1000 → deadline 1100)
      mem.addData((1L, "purchase", 300L), (3L, "click", 2000L))
      q.processAllAvailable(); q.stop()
      val out = spark.table("funnel_t")
        .select($"user_id", $"step", $"step_name", $"ts_sec")
        .as[(Long, Int, String, Long)].collect().toSet
      assert(out == Set(
        (1L, 1, "view", 100L), (1L, 2, "click", 200L), (1L, 3, "purchase", 300L),
        (3L, 1, "view", 100L)), s"got $out")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CDC log maintains a materialized snapshot via foreachBatch") {
    // the incremental-materialized-view loop: each micro-batch of I/U/D
    // changes applies through Scd.applyChangelog — foreachBatch is the
    // exactly-once context the operator's contract asks for. Within a
    // batch the seq column orders entries; across batches, application
    // composes (prefix then suffix == whole log, pinned in OpsSpec).
    import graft.operators.Scd
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_stream_").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val mem = MemoryStream[(Long, String, String, Int, Long)](spark)
    val q = mem.toDF().toDF("k", "v", "op", "ts", "seq")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val merged = Scd.applyChangelog(
          spark.read.parquet(dir), batch, Seq("k"), seqCol = Some("seq"))
        val rows = merged.collect() // materialize before overwriting the source
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toIndexedSeq), merged.schema)
          .write.mode("overwrite").parquet(dir)
      }.start()
    mem.addData((1L, "a1", "U", 1, 1L), (3L, "c", "I", 1, 2L))
    q.processAllAvailable()
    mem.addData((1L, "x", "D", 2, 3L),   // delete the updated key
      (2L, "b2", "U", 2, 4L), (2L, "b3", "U", 2, 5L)) // same-ts: seq decides
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "b3", 3L -> "c"), out.toString)
  }
}

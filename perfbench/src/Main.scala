package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One workload in one JVM: set up, measure, check, print the result
  * as the last line of stdout. */
object Main {
  /** Per-layer metrics: (name, unit, better), those of BENCHMARK.json.
    * Every traced run reports all of them; a layer a workload does not
    * touch reads 0. */
  val Layers: Seq[(String, String, String)] = Seq(
    ("batch.features_ms", "ms", "lower"),
    ("batch.context_rows", "count", "lower"),
    ("batch.shuffle_bytes", "bytes", "lower"),
    ("snapshots.merge_ms", "ms", "lower"),
    ("snapshots.merge_files_scanned", "count", "lower"),
    ("snapshots.merge_files_touched", "count", "lower"),
    ("snapshots.merge_touched_share", "ratio", "higher"),
    ("snapshots.merge_jobs", "count", "lower"),
    ("snapshots.bytes_written", "bytes", "lower"),
    ("snapshots.plan_jobs", "count", "lower"),
    ("snapshots.read_ms", "ms", "lower"),
    ("snapshots.read_files", "count", "lower"),
    ("snapshots.read_bytes", "bytes", "lower"),
    ("ml.fit_ms", "ms", "lower"),
    ("ml.fit_jobs", "count", "lower"),
    ("ml.fit_tasks", "count", "lower"),
    ("serve.store_ms", "ms", "lower"),
    ("serve.jobs_per_request", "count", "lower"),
    ("serve.tasks_per_request", "count", "lower"),
    ("serve.rows_scanned_per_row_returned", "ratio", "lower"),
    ("serve.bytes_scanned_per_lookup", "bytes", "lower"),
    ("serve.store_files", "count", "lower"),
    ("serve.ingest_ms", "ms", "lower"),
    ("llm.ann_query_ms", "ms", "lower"),
    ("stream.batch_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.get_batch_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.jobs_per_batch", "count", "lower"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_bytes", "bytes", "lower"),
    ("stream.state_commit_ms", "ms", "lower"),
    ("online_store.upsert_ms", "ms", "lower"),
    ("online_store.rows_per_event", "ratio", "lower"),
    ("llm.ann_build_ms", "ms", "lower"),
    ("llm.ann_recall_at_k", "ratio", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_run_ms", "ms", "lower"),
    ("spark.task_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.scheduler_delay_ms", "ms", "lower"),
    ("spark.planning_ms", "ms", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"))

  /** Per-layer metrics only `corpus_prep` emits. BENCHMARK.json does not
    * list that workload, so only its own traced run reports them. */
  val CorpusLayers: Seq[(String, String, String)] = Seq(
    ("llm.prep_ms", "ms", "lower"),
    ("llm.prep_jobs", "count", "lower"),
    ("llm.dedup_ms", "ms", "lower"),
    ("llm.dedup_candidate_pairs", "count", "lower"),
    ("llm.dedup_dropped_docs", "count", "higher"),
    ("llm.bpe_fit_ms", "ms", "lower"),
    ("llm.bpe_encode_ms", "ms", "lower"))

  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local").toString
    val b = SparkSession.builder().appName("perfbench").master(s"local[${a.cores}]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("checkpoints").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = graft.Tables.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String): Workload = name match {
    case "offline_refresh" => new OfflineRefresh
    case "online_lookup" => new OnlineLookup
    case "stream_ingest" => new StreamIngest
    case "corpus_prep" => new CorpusPrepWorkload
    case "classes" => new ClassLoad
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val wl = workload(a.workload)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val startS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, a)
    if (a.trace) Trace.install(spark)
    val tb = System.nanoTime()
    wl.build(ctx)
    val buildS = Stats.secondsSince(tb)
    val tw = System.nanoTime()
    wl.warmup(ctx)
    val warmS = Stats.secondsSince(tw)
    Trace.timedPhase = true
    val tm = System.nanoTime()
    wl.measure(ctx)
    val measuredS = Stats.secondsSince(tm)
    Trace.timedPhase = false
    Trace.settle(spark)
    val tf = System.nanoTime()
    val res =
      try wl.finish(ctx)
      finally wl.close()
    val finishS = Stats.secondsSince(tf)
    // process start to first timed op
    val setupS = startS + buildS + warmS
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", res.throughputPerS, "1/s"),
      ("latency_p50_ms", res.latencyP50Ms, "ms"))
    val metrics =
      if (!a.trace) e2e
      else {
        val tot = Trace.engineTotals
        val n = math.max(1L, ctx.ops.attempted).toDouble
        val engine = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
          "scheduler_delay_ms", "planning_ms", "input_bytes", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes").map(k => s"spark.$k" -> tot.getOrElse(k, 0L) / n)
        val all = res.layers ++ engine
        val names = Layers ++ (if (a.workload == "corpus_prep") CorpusLayers else Nil)
        val unknown = all.keySet -- names.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        names.map { case (name, unit, _) => (name, all.getOrElse(name, 0.0), unit) }
      }
    val correct = ctx.checks.ok
    val detail = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "jvm_session_start_s" -> Json.num(startS),
      "build_s" -> Json.num(buildS),
      "warmup_s" -> Json.num(warmS),
      "measured_s" -> Json.num(measuredS),
      "finish_s" -> Json.num(finishS),
      "checks" -> ctx.checks.count.toString,
      "metrics" -> Json.metrics(res.named ++ e2e))
    val detailJson = detail.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    a.traceOut.foreach { p =>
      Trace.dump(p, s""""run": $detailJson, "per_layer": ${Json.metrics(metrics)}""")
    }
    println(s"perfbench-detail $detailJson")
    println(s"""{"correct": $correct, "attempted": ${ctx.ops.attempted}, """ +
      s""""failed": ${ctx.ops.failed}, "metrics": ${Json.metrics(metrics)}}""")
    System.out.flush()
    spark.stop()
    System.exit(0)
  }
}

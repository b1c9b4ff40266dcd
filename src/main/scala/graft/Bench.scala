package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every inventory query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line to stdout AND to bench_out.json (sbt log noise
  * can truncate/bury stdout — the file is the machine-readable copy).
  * A failed query is recorded with value -1 and its error in "failures",
  * never silently folded into the timings. One warmup query absorbs
  * first-query JIT/codegen cost so the timed numbers compare cleanly.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Full untimed warmup pass: JIT + codegen + page cache reach steady
    // state, so the timed pass measures the PLANS, not first-touch JVM
    // noise (a 3 s query otherwise reads as 7 s purely from JIT).
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }

    // Per-query time = MIN of two timed runs in the same fixed (sorted)
    // order. Round 3 showed the warmup pass alone doesn't kill all
    // first-touch noise (p5/p6 jumped 6x from GC/compilation landing on
    // whoever ran first); the min-of-2 reports the genuinely warm time,
    // so round-over-round diffs reflect plan changes, not scheduling.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(): Map[String, Double] = names.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
          false
        }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
    val p1 = timedPass(); val p2 = timedPass()
    val results = names.map { n =>
      val (a, b) = (p1(n), p2(n))
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }.toMap
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def qJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val fs = failures.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    def line(qs: String, omitted: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"queries_omitted":$omitted,"failures":$fs,"n_failed":${failures.size},"pass":"min_of_2_after_warmup","cpus":$cpus,"sf":"$sfDir"}"""
    // Full per-query map → bench_out.json (machine-readable round artifact).
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line(qJson(results.toSeq.sortBy(-_._2)), 0) + "\n").getBytes("UTF-8"))
    // Stdout copy must fit the driver's stdout-tail buffer or the line's
    // HEAD gets truncated and the round's bench parse fails (BENCH_r02,
    // BENCH_r09, BENCH_r10_c8 all lost their parse to a cut line). Two
    // hardenings after round 10: (1) the line is the absolute LAST stdout
    // write, emitted AFTER spark.stop() so no late executor/SparkContext
    // shutdown chatter can interleave with or follow it; (2) the budget
    // shrinks from ~2 KB to 1.2 KB so the line survives a ~2.9 KB tail
    // capture with room for sbt's own trailing "[success]" lines.
    val bySlow = results.toSeq.sortBy(-_._2)
    var kept = bySlow.length
    while (kept > 1 && line(qJson(bySlow.take(kept)), bySlow.length - kept).length > 1200)
      kept -= 1
    val stdoutLine = line(qJson(bySlow.take(kept)), bySlow.length - kept)
    // a shutdown that throws must not cost the round its result line
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"spark.stop() failed: $e") }
    println(stdoutLine)
  }
}

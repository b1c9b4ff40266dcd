package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.FeaturePipeline
import graft.ml.FraudModel
import graft.operators.Snapshots

/** Batch refresh of a versioned feature table, then training-set pulls
  * and model fits on what it wrote.
  *
  * A round: restore the table to its base version, merge [[Increments]]
  * one-day increments (featurize each against its history, then
  * `Snapshots.mergeInto` on (cc_num, feature_timestamp)), pull
  * [[Pulls]] training sets at a pinned earlier version with a date
  * window, and fit the model once on the last pull. */
final class OfflineRefresh extends Workload {
  val Cards = 2000
  val BaseDays = 2
  val BaseRows = 20000
  val Increments = 4
  /** As many rows a day as the base, so every pull window holds about
    * the same number of rows, whichever days a seed draws. */
  val IncRows = BaseRows / BaseDays
  val PullDays = 2
  /** Start days of the pull windows at the pinned version. */
  val Windows = BaseDays + Increments / 2 - PullDays + 1
  /** Each window is pulled equally often, in an order drawn from the
    * seed: a window over base files and one over increment files differ
    * in cost, and a mix of windows drawn from the seed moved the median
    * pull from seed to seed. */
  val Pulls = 5 * Windows
  val Keys = Seq("cc_num", "feature_timestamp")

  private var dir: String = _
  private var table: String = _
  private var basePath: String = _
  private var incPaths: Seq[String] = Nil
  private var base: Array[Gen.Txn] = _
  private var incs: Seq[Array[Gen.Txn]] = Nil
  private var baseVersion = 0L

  private val refreshS = ArrayBuffer.empty[Double]
  private val pullMs = ArrayBuffer.empty[Double]
  private val fitMs = ArrayBuffer.empty[Double]
  /** (version, window start day, rows) of every pull. */
  private val pulls = ArrayBuffer.empty[(Long, Int, Long)]
  private val aucs = ArrayBuffer.empty[Double]

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    dir = ctx.dir("offline")
    val rng = new SplittableRandom(ctx.seed)
    val cs = Gen.cards(rng, Cards)
    val used = new java.util.HashSet[(Long, Long)]()
    base = Gen.txns(rng, cs, BaseRows, Gen.Epoch0, Gen.Epoch0 + BaseDays * Gen.Day, used)
    incs = (0 until Increments).map { i =>
      val from = Gen.Epoch0 + (BaseDays + i) * Gen.Day
      Gen.txns(rng, cs, IncRows, from, from + Gen.Day, used)
    }
    basePath = s"$dir/raw/base"
    base.map(_.row).toSeq.toDF().repartition(3).write.parquet(basePath)
    incPaths = incs.indices.map { i =>
      val p = s"$dir/raw/inc$i"
      incs(i).map(_.row).toSeq.toDF().coalesce(1).write.parquet(p)
      p
    }
    table = s"$dir/features"
    baseVersion = Snapshots.commit(spark, table,
      FeaturePipeline.features(spark.read.parquet(basePath)))
  }

  /** One refresh, one pull and one fit, then back to the base version. */
  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    refresh(ctx, 0)
    val warm = cached(pull(ctx, baseVersion + 1, 0))
    FraudModel.train(warm)
    warm.unpersist()
    Snapshots.restore(spark, table, baseVersion)
  }

  private def history(spark: SparkSession, i: Int): DataFrame =
    spark.read.parquet((basePath +: incPaths.take(i)): _*)

  /** Featurize increment `i` against its history and merge it. */
  private def refresh(ctx: Ctx, i: Int): Snapshots.Cow = {
    val spark = ctx.spark
    val inc = spark.read.parquet(incPaths(i))
    if (!ctx.traced)
      Snapshots.mergeInto(spark, table, FeaturePipeline.incrementalFeatures(inc, history(spark, i)), Keys)
    else {
      // traced: materialize the batch layer's output at its boundary so
      // the merge's self time is its own
      val feats = Trace.span("batch.features") {
        val f = FeaturePipeline.incrementalFeatures(inc, history(spark, i)).persist()
        Force(f, "batch.features", ctx.checks)
        f
      }
      try Trace.span("snapshots.merge") {
        val cow = Snapshots.mergeInto(spark, table, feats, Keys)
        Trace.count("files_touched", cow.filesRewritten)
        cow
      } finally feats.unpersist()
    }
  }

  private def window(day: Int): (Timestamp, Timestamp) =
    (new Timestamp((Gen.Epoch0 + day * Gen.Day) * 1000L),
      new Timestamp((Gen.Epoch0 + (day + PullDays) * Gen.Day) * 1000L))

  /** Training-set pull at `version` for a `PullDays` window from `day`,
    * forced by checksum. */
  private def pull(ctx: Ctx, version: Long, day: Int): DataFrame = {
    val (lo, hi) = window(day)
    val t = System.nanoTime()
    var df: DataFrame = null
    val sum = Trace.span("snapshots.read") {
      df = Trace.span("snapshots.read.plan") {
        Snapshots.read(ctx.spark, table, Some(version))
          .filter(col("feature_timestamp") >= lit(lo) && col("feature_timestamp") < lit(hi))
      }
      Force(df, "trainset", ctx.checks)
    }
    pullMs += Stats.msSince(t)
    pulls += ((version, day, sum.rows))
    df
  }

  /** The fit's input: a pulled training set, cached in one partition. */
  private def cached(df: DataFrame): DataFrame = {
    val c = df.coalesce(1).persist()
    c.count()
    c
  }

  def measure(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rng = new SplittableRandom(ctx.seed ^ 0x5eedL)
    Seq(refreshS, pullMs, pulls, fitMs, aucs).foreach(_.clear())
    val t0 = System.nanoTime()
    var round = 0
    while (round == 0 || Stats.secondsSince(t0) < ctx.args.seconds) {
      val roundBase = Snapshots.restore(spark, table, baseVersion)
      (0 until Increments).foreach { i =>
        val t = System.nanoTime()
        ctx.ops(s"refresh $i") {
          refresh(ctx, i)
          refreshS += Stats.secondsSince(t)
        }
      }
      val pinned = roundBase + Increments / 2
      var last: DataFrame = null
      pullDays(rng).zipWithIndex.foreach { case (day, p) =>
        ctx.ops(s"pull $p") { last = pull(ctx, pinned, day) }
      }
      val train = cached(last)
      ctx.ops("fit") {
        val t = System.nanoTime()
        val (_, m) = Trace.span("ml.fit")(FraudModel.train(train))
        fitMs += Stats.msSince(t)
        aucs += m.rocAuc
      }
      train.unpersist()
      round += 1
    }
  }

  /** A round's pull windows: each start day equally often, shuffled. */
  private def pullDays(rng: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(Pulls)(_ % Windows)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Rows of the base plus the first `n` increments. */
  private def rowsUpTo(n: Int): Seq[Gen.Txn] = base.toSeq ++ incs.take(n).flatten

  def finish(ctx: Ctx): Result = {
    val spark = ctx.spark
    val checks = ctx.checks
    val latest = Snapshots.latestVersion(spark, table).get
    val roundBase = latest - Increments
    checks.guard("version row counts") {
      (0 to Increments).foreach { j =>
        val n = Snapshots.read(spark, table, Some(roundBase + j)).count()
        checks(n == BaseRows + j.toLong * IncRows, s"version ${roundBase + j} has $n rows")
      }
    }
    checks.guard("pull row counts") {
      pulls.foreach { case (v, day, rows) =>
        val (lo, hi) = window(day)
        val merged = Increments / 2
        val expect = rowsUpTo(merged).count(t => t.tsSec * 1000L >= lo.getTime && t.tsSec * 1000L < hi.getTime)
        checks(rows == expect, s"pull at v$v day $day: $rows rows, generator says $expect")
      }
    }
    checks.guard("features against a plain recomputation") { checkFeatures(ctx) }
    checks.guard("re-merge is idempotent") {
      val before = Force(Snapshots.read(spark, table), "table", checks)
      refresh(ctx, Increments - 1)
      val after = Force(Snapshots.read(spark, table), "table", checks)
      checks(before == after, s"re-merging the last increment changed the table: $before -> $after")
    }
    checks.guard("model quality") {
      val floor = aucFloor()
      checks(aucs.nonEmpty && aucs.forall(_ >= floor),
        s"held-out ROC AUC ${aucs.mkString(",")} below floor $floor")
    }
    // the median refresh's rate: the first refresh of a round runs a
    // little colder than the rest, and a median keeps runs comparable
    val rowsPerS = Stats.median(refreshS.map(IncRows / _))
    val trainsetS = Stats.median(pullMs) / 1000.0
    val fitS = Stats.median(fitMs) / 1000.0
    Result(rowsPerS, Stats.median(pullMs),
      Seq(("refresh_rows_per_s", rowsPerS, "1/s"), ("trainset_s", trainsetS, "s"),
        ("fit_s", fitS, "s")),
      if (ctx.traced) layers() else Map.empty)
  }

  /** ROC AUC floor. The label rule's log-odds rise linearly with the
    * amount; its night and online-category terms are steps a linear
    * model on hour_of_day and an indexed category cannot fit. So the
    * model must at least rank like the amount alone: its held-out AUC
    * must clear the amount-only AUC on the generated rows less 0.1
    * (about three standard errors of an AUC over the ~80 frauds of the
    * held-out split), and 0.6 in any case. */
  private def aucFloor(): Double = {
    val scored = rowsUpTo(Increments / 2).map(t => (t.amt, t.isFraud))
    math.max(0.6, Auc(scored) - 0.1)
  }

  private def checkFeatures(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val all = rowsUpTo(Increments)
    val byCard = all.groupBy(_.card.cc).map { case (k, v) => k -> v.sortBy(_.tsSec).toArray }
    val timesByCard = byCard.map { case (k, v) => k -> v.map(_.tsSec) }
    val rng = new SplittableRandom(ctx.seed * 31 + 7)
    val ranked = byCard.keys.toSeq.sortBy(cc => (-byCard(cc).length, cc))
    val sample = ranked.take(4) ++ Seq.fill(6)(ranked(ranked.size / 2 + rng.nextInt(ranked.size / 2)))
    val got = Snapshots.read(spark, table).filter(col("cc_num").isin(sample: _*)).collect()
    val expectRows = sample.distinct.map(byCard(_).length).sum
    ctx.checks(got.length == expectRows, s"sampled cards: ${got.length} rows, generator has $expectRows")
    got.foreach { r =>
      val cc = r.getAs[Long]("cc_num")
      val ts = r.getAs[Timestamp]("feature_timestamp").getTime / 1000L
      val txs = byCard(cc)
      val times = timesByCard(cc)
      // the card's transactions are sorted by time, one per second at most
      val at = java.util.Arrays.binarySearch(times, ts)
      val t = txs(at)
      val in10 = txs.slice(firstAtOrAfter(times, ts - 600), at + 1)
      val in1h = txs.slice(firstAtOrAfter(times, ts - 3600), at + 1)
      val avg = BigDecimal(in1h.map(_.cents).sum, 2).toDouble / in1h.length
      val c = ctx.checks
      val id = s"card $cc at $ts"
      c(r.getAs[Int]("txn_count_last_10_min") == in10.length, s"$id 10-min count")
      c.close(r.getAs[Double]("avg_amt_last_1_hour"), avg, s"$id 1-h average", 1e-12)
      c.close(r.getAs[Double]("distance_to_merchant"),
        Gen.haversineMiles(t.card.lat, t.card.lon, t.merchLat, t.merchLon), s"$id distance")
      c.close(r.getAs[Double]("age_at_txn"), (ts - t.card.dobSec) / 31557600.0, s"$id age", 1e-12)
      c(r.getAs[Int]("hour_of_day") == ((ts % Gen.Day) / 3600).toInt, s"$id hour")
      c(r.getAs[Int]("day_of_week") == ((ts / Gen.Day + 4) % 7 + 1).toInt, s"$id day of week")
      c(r.getAs[Double]("amt") == t.amt && r.getAs[String]("category") == t.category &&
        r.getAs[String]("gender") == t.card.gender && r.getAs[Int]("city_pop") == t.card.cityPop &&
        r.getAs[Int]("is_fraud") == t.isFraud, s"$id passthrough columns")
    }
  }

  /** Index of the first of the sorted `times` that is `>= t`. */
  private def firstAtOrAfter(times: Array[Long], t: Long): Int = {
    var lo = 0
    var hi = times.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (times(mid) < t) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def layers(): Map[String, Double] = {
    val feats = Trace.named("batch.features")
    val merge = Trace.named("snapshots.merge")
    val read = Trace.named("snapshots.read")
    val plan = Trace.named("snapshots.read.plan")
    val fit = Trace.named("ml.fit")
    def mean(ss: Seq[Span], k: String) = if (ss.isEmpty) 0.0 else ss.map(Trace.total(_, k)).sum.toDouble / ss.size
    // parquet files the engine's scans read: in a merge that is the
    // matched-key discovery (the source is cached); in a pull, the scan
    // of the pinned version less whatever building the DataFrame read
    val scanned = mean(merge, "parquet_files_read")
    Map(
      "batch.features_ms" -> Stats.median(feats.map(_.ms)),
      "batch.context_rows" -> mean(feats, "input_records"),
      "batch.shuffle_bytes" -> mean(feats, "shuffle_write_bytes"),
      "snapshots.merge_ms" -> Stats.median(merge.map(_.ms)),
      "snapshots.merge_files_scanned" -> scanned,
      "snapshots.merge_files_touched" -> mean(merge, "files_touched"),
      "snapshots.merge_touched_share" -> (if (scanned == 0) 0.0 else mean(merge, "files_touched") / scanned),
      "snapshots.merge_jobs" -> mean(merge, "jobs"),
      "snapshots.bytes_written" -> mean(merge, "output_bytes"),
      "snapshots.plan_jobs" -> mean(plan, "jobs"),
      "snapshots.read_ms" -> Stats.median(read.map(_.ms)),
      "snapshots.read_files" -> (mean(read, "parquet_files_read") - mean(plan, "parquet_files_read")),
      "snapshots.read_bytes" -> mean(read, "input_bytes"),
      "ml.fit_ms" -> Stats.median(fit.map(_.ms)),
      "ml.fit_jobs" -> mean(fit, "jobs"),
      "ml.fit_tasks" -> mean(fit, "tasks"))
  }
}

/** ROC AUC of (score, label) pairs by the rank-sum formula, ties averaged. */
object Auc {
  def apply(xs: Seq[(Double, Int)]): Double = {
    val sorted = xs.sortBy(_._1).toArray
    var rankSumPos = 0.0
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
      val avgRank = (i + j) / 2.0 + 1
      (i to j).foreach(k => if (sorted(k)._2 == 1) rankSumPos += avgRank)
      i = j + 1
    }
    val pos = xs.count(_._2 == 1).toDouble
    val neg = xs.size - pos
    if (pos == 0 || neg == 0) 0.5 else (rankSumPos - pos * (pos + 1) / 2) / (pos * neg)
  }
}

package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.schema.CardStats

/** The online snapshot store replacing the reference's Redis key layout
  * (`redis_writer.py:17-44`; FIXTURES.md §D):
  *
  *   txn:{cc}:data:{id} hash → `txn_log` rows (append, TTL-filtered)
  *   txn:{cc}:stats hash     → latest row per key of `txn_log`
  *   txn:{cc}:timeline zset  → ORDER BY last_update DESC per key
  *
  * Implemented as a parquet append table maintained by `foreachBatch`
  * — idempotent upserts keyed by txn_id (exactly-once on top of
  * at-least-once delivery, unlike the reference's side-effecting map),
  * TTL as a retention predicate at read time, periodic compaction as
  * keep-latest-per-key rewrite.
  *
  * Scale notes: the log is partitioned by ingest date so the TTL
  * predicate prunes partitions; "latest per key" is one hash shuffle
  * (or none, if the sink bucketed by cc_num).
  */
class OnlineStore(spark: SparkSession, path: String, ttlSeconds: Long = 86400L) {
  import spark.implicits._

  /** foreachBatch sink body (S7): idempotent append of the micro-batch. */
  def upsertBatch(batch: Dataset[CardStats], batchId: Long): Unit =
    batch.toDF()
      .withColumn("batch_id", lit(batchId))
      .withColumn("ingest_date", to_date(col("last_update")))
      .write.mode("append").partitionBy("ingest_date").parquet(path)

  /** Attach as the sink of a streaming Dataset[CardStats]. */
  def sink(stats: Dataset[CardStats], checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[CardStats] =
    stats.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[CardStats], id: Long) => upsertBatch(batch, id) }

  private def log: DataFrame = spark.read.parquet(path)

  /** TTL retention predicate (redis EXPIRE 86400, redis_writer.py:25,38)
    * + latest-wins per txn_id. Replayed micro-batches produce IDENTICAL
    * rows (same batch_id on retry) and collapse via the full-row
    * distinct. [[StreamPipeline.pipeline]] emits one row per event, so
    * distinct rows share a txn_id only when an event is replayed into
    * the stream again (a re-produced record, a fresh checkpoint) or a
    * sink is fed by [[StreamPipeline.mergeStats]], which re-emits the
    * last txn as its slots update; keep the max-(last_update,
    * batch_id) row rather than an arbitrary one — the Redis hash's
    * last-write-wins semantics. */
  def retained(asOfEpochSec: Long): DataFrame = {
    val w = Window.partitionBy(col("txn_id"))
      .orderBy(col("last_update").desc, col("batch_id").desc,
        col("txn_count_last_10_min").desc, col("avg_amt_last_1_hour").desc)
    // Two conjuncts: the ingest_date bound hits the PARTITION columns —
    // expired date directories are never even listed (the row-level
    // last_update bound alone would scan every partition ever written);
    // the last_update bound then trims the boundary date exactly.
    val horizonDate = to_date(timestamp_seconds(lit(asOfEpochSec - ttlSeconds)))
    log.filter(col("ingest_date") >= horizonDate)
      .filter(graft.Tables.tsSec(col("last_update")) >= asOfEpochSec - ttlSeconds)
      .dropDuplicates() // replay idempotency: identical rows collapse
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** `txn:{cc}:stats` — latest stats row per card. */
  def stats(asOfEpochSec: Long): DataFrame = {
    val w = Window.partitionBy(col("cc_num"))
      .orderBy(col("last_update").desc, col("txn_id").desc)
    retained(asOfEpochSec)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "batch_id", "ingest_date")
  }

  /** `txn:{cc}:timeline` top-k — k most recent per card (feature.py:164). */
  def topKRecent(cc: Long, k: Int, asOfEpochSec: Long): DataFrame =
    retained(asOfEpochSec)
      .filter(col("cc_num") === cc)
      .orderBy(col("last_update").desc, col("txn_id").desc)
      .limit(k)
      .drop("batch_id", "ingest_date")

  /** Compaction: rewrite the log keeping only retained rows (bounds
    * storage growth the way Redis TTL bounds keyspace).
    *
    * Crash-safe swap: the compacted copy is fully written to `.compact`,
    * then promoted with two directory renames (old log → `.bak`,
    * compacted → log) — each rename is atomic on HDFS-like filesystems,
    * so a crash leaves either the old log in place, or the old log at
    * `.bak` with the complete compacted copy ready; never a
    * half-overwritten directory (the previous overwrite-in-place could
    * die between delete and write). On entry, RECOVER before cleaning:
    * if the main log is missing (a previous compact died between its
    * two renames), `.bak` holds the only full copy and `.compact` the
    * only compacted copy — promote `.bak` (conservative: full data,
    * compaction redone) or, failing that, the complete `.compact`.
    * Only once main exists are leftovers safe to delete. */
  def compact(asOfEpochSec: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val main = new Path(path)
    val tmp = new Path(path + ".compact")
    val bak = new Path(path + ".bak")
    if (!fs.exists(main)) {
      if (fs.exists(bak)) {
        if (!fs.rename(bak, main))
          throw new java.io.IOException(s"compact: recovery rename $bak -> $main failed")
      } else if (fs.exists(tmp)) {
        // tmp was fully written before the first rename — it is complete
        if (!fs.rename(tmp, main))
          throw new java.io.IOException(s"compact: recovery rename $tmp -> $main failed")
      } else
        throw new java.io.FileNotFoundException(s"compact: no log at $main and no recovery copy")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)
    retained(asOfEpochSec)
      .write.mode("overwrite").partitionBy("ingest_date").parquet(tmp.toString)
    if (!fs.rename(main, bak))
      throw new java.io.IOException(s"compact: rename $main -> $bak failed")
    if (!fs.rename(tmp, main)) {
      fs.rename(bak, main) // roll back
      throw new java.io.IOException(s"compact: rename $tmp -> $main failed")
    }
    fs.delete(bak, true)
  }
}

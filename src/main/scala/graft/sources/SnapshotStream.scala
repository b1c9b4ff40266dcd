package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.operators.Snapshots

/** A consumed position in a snapshot table's commit log: the highest
  * manifest VERSION already emitted. `-1` = nothing consumed. Versions
  * are dense monotonically increasing longs assigned by the manifest
  * rename, so the offset is total-ordered and replayable: the same
  * `(start, end]` range always plans the same immutable files —
  * exactly-once downstream composes with [[Snapshots.commitBatch]].
  * (Delta's streaming source uses (reservoirVersion, index); we never
  * split one commit across micro-batches, so the version alone
  * suffices — a commit is the atomic unit of the log.) */
case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Stream-shape options, frozen at query analysis (they come from the
  * `readStream.option(...)` map, so a checkpoint restart of the same
  * query definition reconstructs the same config — replay-stable). */
case class SnapshotStreamConfig(
    path: String,
    cdc: Boolean,
    startingVersion: Option[String], // None | "latest" | inclusive version number
    maxVersionsPerTrigger: Option[Long])

/** Structured Streaming over a snapshot table — the lakehouse
  * streaming-source contract (Delta's `readStream.format("delta")`,
  * re-expressed over the graft commit log):
  *
  *   - offsets are manifest versions ([[VersionOffset]]); each
  *     micro-batch is `(start, end]` — an immutable slice of the log,
  *     so crash replay re-plans byte-identical input;
  *   - first batch (no `startingVersion`): the FULL SNAPSHOT at the
  *     stream's first trigger (read through DVs/compactions — any
  *     history shape is fine), then append deltas via
  *     [[Snapshots.readChanges]] (content-neutral housekeeping is
  *     skipped; an overwrite/replace mid-stream fails LOUDLY — the
  *     delta is not expressible, same contract as Delta without
  *     `ignoreChanges`);
  *   - `option("startingVersion", n)` replays commits `>= n` as
  *     deltas; `"latest"` emits only post-attach commits;
  *   - `option("readChangeFeed", "true")`: batches come from
  *     [[Snapshots.changeFeed]] — every row change with a
  *     `_change_type` column (insert | delete), so MOR DML streams as
  *     retractions a downstream [[graft.operators.MaterializedAgg]]
  *     can fold;
  *   - `option("maxVersionsPerTrigger", n)`: admission control — a
  *     backlogged table replays at a bounded per-batch commit count
  *     instead of one giant catch-up batch (the initial snapshot is
  *     always one consistent batch).
  *
  * Planning runs driver-side per micro-batch: the engine's own read
  * plan (vectorized parquet, in-scan DV bitmaps) compiles to an RDD
  * whose partitions serve the DSv2 readers one-to-one — the same
  * shipping used by the batch scan ([[SnapshotScan]]). Pushed filters
  * and column pruning re-plan the inner DataFrame per batch, and all
  * filters stay residual above the scan, so a conversion gap can never
  * change results. */
class SnapshotMicroBatchStream(cfg: SnapshotStreamConfig,
    required: StructType, pushed: Seq[Filter])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // driver-side only: the stream object never ships to executors
  private val spark = SparkSession.active

  /** Latest committed version, or -1 on a CREATE'd-but-empty table —
    * the stream attaches and idles until the first commit lands. */
  private def liveLatest(): Long =
    Snapshots.latestVersion(spark, cfg.path).getOrElse(-1L)

  /** Trigger.AvailableNow: the end target is FROZEN at query start
    * (commits racing the drain are left for the next run), while
    * `maxVersionsPerTrigger` still paces the batches toward it — the
    * Kafka-source contract. Without this, the wrapper Spark applies to
    * non-supporting sources would capture one CAPPED latestOffset as
    * the final target and stop after a single batch. */
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(liveLatest())

  private def latest(): Long = availableNowTarget.getOrElse(liveLatest())

  /** True while the stream is on its very first, full-snapshot batch
    * (no `startingVersion` given). Encoded in config, not the offset:
    * a checkpoint restart carries the committed offset forward, so
    * `-1` only ever re-plans the initial batch of a fresh checkpoint. */
  private def snapshotFirst(start: Long): Boolean =
    start == -1L && cfg.startingVersion.isEmpty

  override def initialOffset(): Offset = cfg.startingVersion match {
    case Some("latest") => VersionOffset(latest())
    case Some(v) => VersionOffset(v.toLong - 1L) // commits >= v replay as deltas
    case None => VersionOffset(-1L) // full snapshot first, then deltas
  }

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].version
    val l = latest()
    if (l <= s) return VersionOffset(s)
    val e = cfg.maxVersionsPerTrigger match {
      // the initial full snapshot is ONE consistent batch — capping it
      // would split a non-delta read, which has no incremental meaning
      case Some(n) if !snapshotFirst(s) => math.min(l, s + math.max(1L, n))
      case _ => l
    }
    VersionOffset(e)
  }

  override def reportLatestOffset(): Offset = VersionOffset(latest())

  /** The pushed filters as one predicate, split for the initial
    * snapshot: `_change_type` exists only on the change-feed shape, so
    * filters on it apply after the snapshot read adds the column (all
    * filters are also residual above the scan — see the batch path). */
  private val (onTable, onChangeType) =
    pushed.partition(!_.references.contains("_change_type"))

  // one batch in flight per stream-execution thread: Spark calls
  // planInputPartitions(start, end) then createReaderFactory for the
  // same micro-batch before moving on
  private var current: org.apache.spark.rdd.RDD[InternalRow] = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (e <= s) { current = null; return Array.empty }
    val base =
      if (snapshotFirst(s)) {
        // the initial snapshot skips by the pushed predicate: a filtered
        // stream over a 100 TB table must not scan every file on batch
        // one (deltas are commit-sized — no prune)
        val b = Snapshots.read(spark, cfg.path, Some(e), SnapshotSource.predicate(onTable))
        if (cfg.cdc) b.withColumn("_change_type", lit("insert"))
          .where(SnapshotSource.predicate(onChangeType))
        else b
      } else (if (cfg.cdc) Snapshots.changeFeed(spark, cfg.path, s, e)
        else Snapshots.readChanges(spark, cfg.path, s, e)).where(SnapshotSource.predicate(pushed))
    val df = base.select(required.fieldNames.toIndexedSeq.map(col): _*)
    // a mid-stream type change cannot be served through the negotiated
    // schema (InternalRow layout is positional) — fail loudly, restart
    // the query to pick up the evolved schema
    val got = df.schema.map(f => (f.name, f.dataType))
    val want = required.map(f => (f.name, f.dataType))
    require(got == want,
      s"graft-snapshot stream: schema drifted mid-stream at ${cfg.path} " +
        s"versions ($s, $e]: got $got, stream started with $want — " +
        "restart the query to adopt the evolved schema")
    val r = df.queryExecution.toRdd
    SnapshotScan.materialize(r)
    current = r
    r.partitions.map(p => SnapshotInputPartition(p))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(
      if (current == null) spark.sparkContext.emptyRDD[InternalRow] else current)

  override def commit(end: Offset): Unit = () // the log is durable; nothing to ack
  override def stop(): Unit = ()
}

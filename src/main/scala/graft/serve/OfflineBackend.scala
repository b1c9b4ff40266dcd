package graft.serve

import scala.collection.immutable.{ArraySeq, LongMap}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftLocalBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Storage backend behind [[FeatureStore]] — the reference serves from
  * Postgres via Prisma (`back_end/prisma/schema.prisma:16-31`,
  * `app/routes/feature.py:73-103`); SURVEY maps S8 to "Parquet or
  * JDBC". Both are DataFrame sources, so every FeatureStore scan keeps
  * its pushdown behavior: parquet prunes row groups, JDBC compiles
  * filters into the remote WHERE clause, where the database's index
  * serves point lookups. A parquet directory has no key index, so
  * [[ParquetBackend]] keeps one on the driver for lookups by card.
  */
sealed trait OfflineBackend {
  def read(spark: SparkSession): DataFrame
  def append(df: DataFrame): Unit
  def overwrite(df: DataFrame): Unit
}

/** Parquet directory. Its schema is resolved once, by the first read
  * that succeeds, and every later read passes it to the reader: schema
  * inference reads a footer in a Spark job of its own, which every
  * lookup would otherwise pay before its query is planned. Files are
  * still listed on every read, so appends from any writer stay
  * visible; an overwrite through any backend on the same path resets
  * the schema.
  *
  * Point lookups by card are served from a driver-resident card index
  * of the directory (the reference's per-key `txn:{cc}:timeline` sorted
  * set): `cc_num` → that card's rows, newest `feature_timestamp` first.
  * Every lookup syncs the index with one listing of the directory, by
  * Spark's rules (names starting with `_` or `.` are skipped,
  * subdirectories are walked). A listing that only added files reads
  * just those files and merges their rows in; a removed or changed
  * file, or an overwrite or clear through this JVM, rebuilds the index
  * from every listed file. A sync that raced an overwrite does not
  * install its rows. An append through this JVM reads the files it
  * wrote into a held index before it returns, so no lookup after it
  * waits on that read; while a write through this JVM is under way,
  * lookups serve the index as it was before the write and do not list
  * the directory in the middle of its commit. The rows' bytes are
  * measured as they are read, against a budget of a quarter of the
  * driver's maximum heap (the ANN
  * replica, `LocalIvfPq`, takes up to half): a store past it drops its
  * index, logs that once, and its lookups scan the directory until the
  * next overwrite or clear. So does a directory with no data files, or
  * one without a `long` `cc_num` and a `timestamp` `feature_timestamp`.
  *
  * Appends and overwrites through backends on the same path are
  * serialized inside this JVM: two Spark writes to one directory share
  * its `_temporary` directory, and the first job to commit deletes it
  * under the other. Writers in other processes are not covered.
  */
final case class ParquetBackend(path: String) extends OfflineBackend {
  override def read(spark: SparkSession): DataFrame = {
    val store = ParquetBackend.store(spark, path)
    val (generation, schema) = store.cached
    schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        store.resolved(generation, df.schema)
        df
    }
  }

  override def append(df: DataFrame): Unit =
    ParquetBackend.store(df.sparkSession, path).appending(df.sparkSession) {
      df.write.mode(SaveMode.Append).parquet(path)
    }

  override def overwrite(df: DataFrame): Unit =
    ParquetBackend.store(df.sparkSession, path).overwriting {
      df.write.mode(SaveMode.Overwrite).parquet(path)
    }

  /** Card `cc`'s first `k` rows, newest first, from the synced card
    * index as a local relation over the rows the index holds (no row is
    * converted or copied, and collecting it runs no Spark job); None
    * when the store is served by the scan path. */
  private[serve] def newestFirst(spark: SparkSession, cc: Long, k: Int): Option[DataFrame] =
    ParquetBackend.store(spark, path).synced(spark)
      .map(index => GraftLocalBridge.localFrame(spark, index.schema, index.rows(cc, k)))
}

object ParquetBackend {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[ParquetBackend])

  /** What a held row costs beyond its `UnsafeRow` bytes: the row
    * object, its byte array's header and its slot in the card's array. */
  private val RowOverhead = 64L

  /** One store's rows by card, newest first, and the files they came
    * from (path → (length, modification time)). Immutable: a sync that
    * adds files builds a new index sharing the cards it does not touch. */
  private final class CardIndex(val files: Map[String, (Long, Long)], val schema: StructType,
      cards: LongMap[Array[UnsafeRow]], val bytes: Long) {
    private val ccAt = schema.fieldIndex("cc_num")
    private val tsAt = schema.fieldIndex("feature_timestamp")

    /** Newest first, null timestamps last; ties go by the rows' bytes,
      * so one set of rows always comes in one order. */
    private val newest: Ordering[UnsafeRow] = (a, b) =>
      (a.isNullAt(tsAt), b.isNullAt(tsAt)) match {
        case (false, false) if a.getLong(tsAt) != b.getLong(tsAt) =>
          java.lang.Long.compare(b.getLong(tsAt), a.getLong(tsAt))
        case (an, bn) if an != bn => if (an) 1 else -1
        case _ => java.util.Arrays.compare(a.getBytes, b.getBytes)
      }

    /** The first `k` of the card's rows, as held. */
    def rows(cc: Long, k: Int): Seq[InternalRow] = {
      val all = cards.getOrElse(cc, Array.empty[UnsafeRow])
      ArraySeq.unsafeWrapArray(if (k < all.length) all.take(k) else all)
    }

    def plus(listing: Map[String, (Long, Long)], added: Seq[UnsafeRow], addedBytes: Long): CardIndex =
      new CardIndex(listing, schema,
        added.groupBy(_.getLong(ccAt)).foldLeft(cards) { case (m, (cc, rs)) =>
          m.updated(cc, (m.getOrElse(cc, Array.empty[UnsafeRow]) ++ rs).sorted(newest))
        },
        bytes + addedBytes)
  }

  private object CardIndex {
    def indexable(schema: StructType): Boolean =
      schema.find(_.name == "cc_num").exists(_.dataType == LongType) &&
        schema.find(_.name == "feature_timestamp").exists(_.dataType == TimestampType)
  }

  /** What the backends on one store directory share in this JVM. */
  private final class Store(dir: String) {
    /** Held for the length of every write to the directory. */
    private val writes = new Object
    /** Held for the length of every sync of the card index. */
    private val syncs = new Object
    @volatile var maxBytes: Long = Runtime.getRuntime.maxMemory / 4
    // The generation makes a read that raced an overwrite drop the
    // schema it inferred, and a sync drop the rows it read, instead of
    // caching the old ones.
    private var generation = 0L
    private var schema: Option[StructType] = None
    private var index: Option[CardIndex] = None
    /** Lookups scan the directory until the next reset. */
    private var scanning = false
    /** A write through this JVM is under way. */
    private var inWrite = false
    def cached: (Long, Option[StructType]) = synchronized((generation, schema))
    def resolved(readAt: Long, s: StructType): Unit =
      synchronized { if (readAt == generation) schema = Some(s) }
    def reset(): Unit = synchronized {
      generation += 1; schema = None; index = None; scanning = false
    }
    private def install(readAt: Long, i: Option[CardIndex]): Unit =
      synchronized { if (readAt == generation) { index = i; scanning = i.isEmpty } }

    /** Runs an append: an index that lookups use is brought up to date
      * with the files it wrote before it returns, so no lookup pays for
      * reading them. A failed update leaves that to the next lookup. */
    def appending(spark: SparkSession)(write: => Unit): Unit = writing {
      write
      if (synchronized(index.isDefined))
        try current(spark)
        catch { case scala.util.control.NonFatal(e) =>
          log.warn(s"card index of $dir not updated after an append: $e") }
    }

    /** Runs an overwrite; the schema and the index are dropped after it. */
    def overwriting(write: => Unit): Unit = writing { try write finally reset() }

    /** Writes are serialized, and lookups meanwhile serve the index as
      * it was before the write, instead of syncing with a directory in
      * the middle of a commit. */
    private def writing(body: => Unit): Unit = writes.synchronized {
      synchronized { inWrite = true }
      try body finally synchronized { inWrite = false }
    }

    /** The card index brought up to date with one listing of the
      * directory, or None when lookups scan it. While a write through
      * this JVM is under way, the index is served as it is. */
    def synced(spark: SparkSession): Option[CardIndex] =
      synchronized(if (inWrite) index else None).orElse(current(spark))

    private def current(spark: SparkSession): Option[CardIndex] = syncs.synchronized {
      val (readAt, held, known, scanOnly) = synchronized((generation, index, schema, scanning))
      if (scanOnly) None else sync(spark, readAt, held, known, tries = 3)
    }

    private def sync(spark: SparkSession, readAt: Long, current: Option[CardIndex],
        known: Option[StructType], tries: Int): Option[CardIndex] = {
      val listing = list(spark)
      val base = current.filter(_.files.forall { case (f, st) => listing.get(f).contains(st) })
      val added = listing.keys.filterNot(f => base.exists(_.files.contains(f))).toSeq.sorted
      if (listing.isEmpty) None
      else if (added.isEmpty) base
      else try {
        val s = base.map(_.schema).orElse(known).getOrElse {
          val inferred = spark.read.option("basePath", dir).parquet(added: _*).schema
          resolved(readAt, inferred)
          inferred
        }
        val rows =
          if (!CardIndex.indexable(s)) None
          else load(spark, s, added, added.map(listing(_)._1).sum, base.fold(0L)(_.bytes))
        val next = rows.map { case (rs, bytes) =>
          base.getOrElse(new CardIndex(Map.empty, s, LongMap.empty, 0L)).plus(listing, rs, bytes)
        }
        if (next.isEmpty && CardIndex.indexable(s))
          log.warn(s"card index of $dir is over its $maxBytes-byte budget: " +
            "by-card and recent-k lookups scan the store")
        install(readAt, next)
        next
      } catch {
        // files removed under the read (an overwrite from any writer):
        // sync again from a fresh listing
        case scala.util.control.NonFatal(_) if tries > 1 && list(spark) != listing =>
          sync(spark, readAt, current, known, tries - 1)
      }
    }

    /** The rows of `files` (`fileBytes` long) with a non-null card, or
      * None once the index's bytes would pass the budget: reading stops
      * there. The files are fetched in one job per eighth of the budget
      * in file bytes, so a small read is one job, and the driver holds
      * at most one fetch past what the budget allows. */
    private def load(spark: SparkSession, s: StructType, files: Seq[String], fileBytes: Long,
        held: Long): Option[(Seq[UnsafeRow], Long)] = {
      val ccAt = s.fieldIndex("cc_num")
      val chunk = math.max(1L, maxBytes / 8)
      val fetches = ((fileBytes + chunk - 1) / chunk).max(1L).min(Int.MaxValue).toInt
      // basePath keeps the partition columns of a partitioned directory
      val it = spark.read.schema(s).option("basePath", dir).parquet(files: _*).coalesce(fetches)
        .queryExecution.executedPlan.executeToIterator()
      val rows = Vector.newBuilder[UnsafeRow]
      var bytes = 0L
      // each decoded row owns its bytes: no copy needed
      while (held + bytes <= maxBytes && it.hasNext) {
        val r = it.next().asInstanceOf[UnsafeRow]
        if (!r.isNullAt(ccAt)) { rows += r; bytes += r.getSizeInBytes + RowOverhead }
      }
      if (held + bytes > maxBytes) None else Some((rows.result(), bytes))
    }

    /** Data files by Spark's listing rules: path → (length, modification time). */
    private def list(spark: SparkSession): Map[String, (Long, Long)] = {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
      def walk(d: Path): Iterator[FileStatus] =
        fs.listStatus(d).iterator.filterNot(st => hidden(st.getPath.getName))
          .flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator(st))
      try walk(root).map(st => st.getPath.toString -> (st.getLen, st.getModificationTime)).toMap
      catch { case _: java.io.FileNotFoundException => Map.empty }
    }
  }

  private val stores = new java.util.concurrent.ConcurrentHashMap[String, Store]()

  /** Keyed by the fully qualified path, so spellings of one directory
    * share a lock, a schema and a card index. */
  private def store(spark: SparkSession, path: String): Store = {
    val p = new Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    stores.computeIfAbsent(key, k => new Store(k))
  }

  /** Sets the card index budget of the store at `path`, for tests of
    * the scan fallback; the default is a quarter of the maximum heap. */
  private[graft] def setIndexBudget(spark: SparkSession, path: String, maxBytes: Long): Unit =
    store(spark, path).maxBytes = maxBytes
}

/** JDBC table (the reference's Postgres plane; tested against embedded
  * Derby). When `partitionColumn` is set, reads fan out over
  * `numPartitions` range slices bounded by a min/max probe — one
  * executor per slice instead of a single-connection scan, the shape a
  * 1000-executor cluster needs against a sharded store.
  */
final case class JdbcBackend(url: String, table: String,
    user: Option[String] = None, password: Option[String] = None,
    partitionColumn: Option[String] = None, numPartitions: Int = 32)
  extends OfflineBackend {

  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    user.foreach(p.setProperty("user", _))
    password.foreach(p.setProperty("password", _))
    p
  }

  override def read(spark: SparkSession): DataFrame = partitionColumn match {
    case Some(c) =>
      val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(c)
      val bounds = spark.read
        .jdbc(url, s"(SELECT MIN($q) AS mn, MAX($q) AS mx FROM $table) b", props)
        .head()
      if (bounds.isNullAt(0)) spark.read.jdbc(url, table, props)
      else spark.read.jdbc(url, table, c,
        bounds.getAs[Number](0).longValue(), bounds.getAs[Number](1).longValue(),
        numPartitions, props)
    case None => spark.read.jdbc(url, table, props)
  }

  override def append(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  override def overwrite(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)
}

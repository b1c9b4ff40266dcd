package graft.serve

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Storage backend behind [[FeatureStore]] — the reference serves from
  * Postgres via Prisma (`back_end/prisma/schema.prisma:16-31`,
  * `app/routes/feature.py:73-103`); SURVEY maps S8 to "Parquet or
  * JDBC". Both are DataFrame sources, so every FeatureStore query keeps
  * its pushdown behavior: parquet prunes row groups, JDBC compiles
  * filters into the remote WHERE clause.
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
    ParquetBackend.store(df.sparkSession, path).writes.synchronized {
      df.write.mode(SaveMode.Append).parquet(path)
    }

  override def overwrite(df: DataFrame): Unit = {
    val store = ParquetBackend.store(df.sparkSession, path)
    store.writes.synchronized {
      try df.write.mode(SaveMode.Overwrite).parquet(path)
      finally store.reset()
    }
  }
}

object ParquetBackend {
  /** What the backends on one store directory share in this JVM. */
  private final class Store {
    /** Held for the length of every write to the directory. */
    val writes = new Object
    // The generation makes a read that raced an overwrite drop the
    // schema it inferred instead of caching the old one.
    private var generation = 0L
    private var schema: Option[StructType] = None
    def cached: (Long, Option[StructType]) = synchronized((generation, schema))
    def resolved(readAt: Long, s: StructType): Unit =
      synchronized { if (readAt == generation) schema = Some(s) }
    def reset(): Unit = synchronized { generation += 1; schema = None }
  }

  private val stores = new java.util.concurrent.ConcurrentHashMap[String, Store]()

  /** Keyed by the fully qualified path, so spellings of one directory
    * share a lock and a schema. */
  private def store(spark: SparkSession, path: String): Store = {
    val p = new org.apache.hadoop.fs.Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    stores.computeIfAbsent(key, _ => new Store)
  }
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

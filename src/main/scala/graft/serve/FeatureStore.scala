package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.schema.FeatureRow

/** Serving facade — one method per reference REST route
  * (`back_end/app/routes/feature.py`; README.md:104-115). The "API" of
  * the engine is this Scala surface. Each method returns a DataFrame:
  * the point lookups by card come from a parquet store's card index
  * (see [[ParquetBackend]]), every other method is a plain query whose
  * filters push down to the parquet scan or the JDBC WHERE clause.
  */
class FeatureStore(spark: SparkSession, backend: OfflineBackend) {

  def this(spark: SparkSession, offlinePath: String) =
    this(spark, ParquetBackend(offlinePath))

  def offline: DataFrame = backend.read(spark)

  /** GET /features — bulk scan with cap (feature.py:56-67,111). */
  def bulk(limit: Int = 100000): DataFrame = offline.limit(limit)

  /** GET /features/by-ccnum/{cc} — point lookup (feature.py:70-80).
    * On a parquet store the rows come from its card index, newest
    * first, as a local relation over the rows the index holds: building
    * it converts or copies no row, collecting it runs no Spark job, and
    * [[HttpApi]] writes its first `maxRows` rows as JSON with no query
    * planned, so a hot card costs a request its cap, not its size. The
    * lookup first syncs the index with one listing of the directory,
    * so appends from any writer are served on the next request; it
    * reads only files added since the last sync ([[ingest]] reads its
    * own files into the index before it returns). A store over the
    * index's budget (a quarter of the driver heap), and a JDBC store,
    * answer with the equality filter pushed to the scan, in file order. */
  def byCcNum(cc: Long): DataFrame =
    indexed(cc, Int.MaxValue).getOrElse(scanCard(cc))

  /** GET /features/by-date — inclusive day range with the reference's
    * 00:00:00 / 23:59:59.999999 bounds (feature.py:83-103). */
  def byDateRange(startDay: String, endDay: String): DataFrame =
    offline.filter(col("feature_timestamp").between(
      to_timestamp(lit(s"$startDay 00:00:00")),
      to_timestamp(lit(s"$endDay 23:59:59.999999"))))

  /** GET /redis/transactions/{cc} top-k recent (feature.py:164): the
    * first `k` rows of [[byCcNum]]'s index answer, whose ties on
    * `feature_timestamp` come in one fixed order. Where [[byCcNum]]
    * scans, this sorts and limits the scan. */
  def topKRecent(cc: Long, k: Int = 5): DataFrame =
    indexed(cc, k).getOrElse(scanCard(cc).orderBy(col("feature_timestamp").desc).limit(k))

  private def indexed(cc: Long, k: Int): Option[DataFrame] = backend match {
    case p: ParquetBackend => p.newestFirst(spark, cc, k)
    case _ => None
  }

  private def scanCard(cc: Long): DataFrame = offline.filter(col("cc_num") === cc)

  /** Latest row per card — the zrevrange(0,0) lookup generalized
    * (feature.py:126-128). */
  def latestPerCard(): DataFrame = {
    val w = Window.partitionBy(col("cc_num")).orderBy(col("feature_timestamp").desc)
    offline.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** POST /features — batch ingest (feature.py:25-54). */
  def ingest(rows: DataFrame): Unit = backend.append(rows)

  /** GET /features as JSON records — the HTTP bulk export's payload
    * (feature.py:56-67); serialization happens on executors. */
  def bulkJson(limit: Int = 100000): org.apache.spark.sql.Dataset[String] =
    bulk(limit).toJSON

  /** U7: chunked iteration — fixed-size batches per partition, the
    * shape of the reference's batched POST loop (insert_offline.py:26-28)
    * and batched inference (inference_experiment.py:73-75). The sink
    * callback runs on executors, one client per partition. */
  def foreachBatched(rows: DataFrame, batchSize: Int)(
      sink: Seq[org.apache.spark.sql.Row] => Unit): Unit =
    rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      it.grouped(batchSize).foreach(g => sink(g))
    }

  /** DELETE /features — delete-all (feature.py:20-23). */
  def clear(): Unit = {
    import spark.implicits._
    backend.overwrite(spark.emptyDataset[FeatureRow].toDF())
  }

  /** POST /redis/sync — offline→online sync counts like the route
    * (feature.py:199-213). ONE broadcast left-outer join + conditional
    * count aggregate: the offline table is scanned and shuffled once
    * for both counts (the semi/anti formulation scans it twice). */
  def sync(onlineKeys: DataFrame): (Long, Long) = {
    val r = syncFrame(onlineKeys).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The one-pass plan behind [[sync]], exposed for plan assertions:
    * a single scan of the offline table, one join, one aggregate
    * producing both counts. No forced broadcast hint — a large online
    * keyspace would OOM the driver; the planner/AQE picks broadcast
    * when the distinct key set is actually small. */
  def syncFrame(onlineKeys: DataFrame): DataFrame = {
    val keys =
      onlineKeys.select(col("cc_num")).distinct().withColumn("__matched", lit(1))
    offline.join(keys, Seq("cc_num"), "left_outer")
      .agg(count(when(col("__matched").isNotNull, 1)).as("synced"),
        count(when(col("__matched").isNull, 1)).as("skipped"))
  }
}

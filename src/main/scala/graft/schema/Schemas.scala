package graft.schema

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** Typed row models + declared StructTypes (SURVEY.md §1; FIXTURES.md).
  * Engine policy: explicit schemas everywhere — `inferSchema` stays an
  * option of the CSV source only (reference batch_processing.py:21).
  */

/** Raw credit-card transaction (FIXTURES.md §A). */
case class Txn(
    trans_date_trans_time: Timestamp,
    cc_num: Long,
    category: String,
    amt: Double,
    gender: String,
    lat: Double,
    lon: Double,
    city_pop: Int,
    dob: Timestamp,
    merch_lat: Double,
    merch_long: Double,
    is_fraud: Int)

/** The 13-column output feature row (FIXTURES.md §B; reference
  * prisma/schema.prisma:16-31, app/schemas/feature.py:4-32). */
case class FeatureRow(
    cc_num: Long,
    amt: Double,
    hour_of_day: Int,
    day_of_week: Int,
    age_at_txn: Double,
    distance_to_merchant: Double,
    txn_count_last_10_min: Int,
    avg_amt_last_1_hour: Double,
    category: String,
    gender: String,
    city_pop: Int,
    feature_timestamp: Timestamp,
    is_fraud: Int)

/** Streaming transaction record after JSON parse (FIXTURES.md §C;
  * reference producer.py:19-30, pipeline.py:44). */
case class StreamTxn(
    txn_id: String,
    cc_num: Long,
    amount: Double,
    lat: Double,
    lon: Double,
    merch_lat: Double,
    merch_long: Double,
    ts: Timestamp)

/** Per-card online state carried by the stateful merge (replaces the
  * reference's two chained CoProcessFunctions, stream_features.py:19-47). */
case class CardState(
    lastTxn: Option[StreamTxn],
    txnCount: Option[Long],
    avgAmt: Option[Double])

/** Per-card state of the streaming feature operator
  * (`StreamPipeline.pipeline`): the card's recent events as parallel
  * arrays, ascending by event time in epoch microseconds — only those
  * inside the longest trailing window of the newest event. */
case class CardWindow(tsMicros: Array[Long], amounts: Array[Double])

/** Online-store stats row (redis_writer.py:27-32 hash fields). */
case class CardStats(
    cc_num: Long,
    txn_id: String,
    amount: Double,
    distance_to_merchant: Double,
    txn_count_last_10_min: Long,
    avg_amt_last_1_hour: Double,
    last_update: Timestamp)

object Schemas {
  /** Wire schema of the JSON stream (all strings on the wire —
    * producer.py:19-30 — parsed with explicit types at the edge). */
  val streamWire: StructType = StructType(Seq(
    StructField("txn_id", StringType),
    StructField("cc_num", StringType),
    StructField("amount", StringType),
    StructField("lat", StringType),
    StructField("long", StringType),
    StructField("merch_lat", StringType),
    StructField("merch_long", StringType),
    StructField("timestamp", StringType)))

  val txn: StructType = StructType(Seq(
    StructField("trans_date_trans_time", TimestampType),
    StructField("cc_num", LongType),
    StructField("category", StringType),
    StructField("amt", DoubleType),
    StructField("gender", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("city_pop", IntegerType),
    StructField("dob", TimestampType),
    StructField("merch_lat", DoubleType),
    StructField("merch_long", DoubleType),
    StructField("is_fraud", IntegerType)))
}

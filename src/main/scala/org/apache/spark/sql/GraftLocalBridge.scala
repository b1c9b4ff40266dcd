package org.apache.spark.sql

import java.io.CharArrayWriter

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` pieces graft needs to serve rows the
  * driver already holds without planning a query: a DataFrame over them
  * (`Dataset.ofRows` of a `LocalRelation`), the rows back out of such a
  * DataFrame, and Spark's JSON writer (`JacksonGenerator`, the one
  * `to_json` and `Dataset.toJSON` use). Lives in the
  * `org.apache.spark.sql` package solely for access, like
  * [[GraftColumnBridge]]. */
object GraftLocalBridge {

  /** A DataFrame whose plan is a local relation over `rows`, which are
    * held, not copied; they must match `schema` and not change. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The schema and rows of `df` when its analyzed plan is a local
    * relation; analysis ran when `df` was made, so this plans nothing. */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case l: LocalRelation if !l.isStreaming => Some((l.schema, l.data))
      case _ => None
    }

  /** `rows` as a JSON array of row objects, each exactly as
    * `Dataset.toJSON` writes it in `spark`: the JSON options, and the
    * settings the writer reads from the SQL conf (`ignoreNullFields`,
    * the time parser policy), come from `spark`'s conf, not from the
    * calling thread's. */
  def jsonArray(spark: SparkSession, schema: StructType, rows: Iterator[InternalRow]): String = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    SQLConf.withExistingConf(conf) {
      val out = new CharArrayWriter()
      val gen = new JacksonGenerator(schema, out,
        new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
      // the generator writes no separator between root values
      out.write('[')
      var first = true
      rows.foreach { r =>
        if (!first) out.write(',')
        gen.write(r)
        gen.flush()
        first = false
      }
      out.write(']')
      out.toString
    }
  }
}

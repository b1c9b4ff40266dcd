package perfbench

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Not a workload: a few small queries of the kinds the workloads run,
  * so that the build's class-data archive holds their classes. */
final class ClassLoad extends Workload {
  def build(ctx: Ctx): Unit = ()

  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.dir("classes")
    (0 until 400).map(i => (i.toLong, i % 7, i * 1.5, s"w${i % 5} x y", i % 2))
      .toDF("id", "k", "x", "s", "label").write.parquet(s"$dir/p")
    val df = spark.read.parquet(s"$dir/p")
    val w = Window.partitionBy(col("k")).orderBy(col("id")).rangeBetween(-10, 0)
    val q = df.withColumn("c", count(lit(1)).over(w))
      .join(df.groupBy("k").agg(avg("x").as("ax")), "k")
      .select(col("*"), explode(split(col("s"), " ")).as("t"))
    Force(q, "classes", ctx.checks)
    val va = new VectorAssembler().setInputCols(Array("x", "k")).setOutputCol("features")
    new LogisticRegression().setLabelCol("label").setMaxIter(3).fit(va.transform(df))
    val mem = MemoryStream[(Long, String)](spark)
    val sq = mem.toDF().groupBy("_2").count().writeStream.outputMode("complete")
      .format("memory").queryName("classes").start()
    mem.addData((0 until 50).map(i => (i.toLong, s"k${i % 3}")))
    sq.processAllAvailable()
    sq.stop()
  }

  def measure(ctx: Ctx): Unit = ()

  def finish(ctx: Ctx): Result = Result(1, 1, Nil)
}

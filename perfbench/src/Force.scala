package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.functions._

/** Materializes a DataFrame the benchmark times itself.
  *
  * `count()` lets Catalyst prune every column the count does not need,
  * and with them whole Window, Join, Aggregate and Generate operators.
  * The checksum here reads every column: `count(*)` plus
  * `bit_xor(xxhash64(all columns))`, which is order-insensitive, so it
  * also compares two results regardless of partitioning.
  */
object Force {

  final case class Sum(rows: Long, hash: Long)

  private val checked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Checksum of `df`. The first call per `site` also verifies that the
    * forced plan keeps every Window, Join, Aggregate and Generate of
    * the plan it forces (recorded in `checks`). */
  def apply(df: DataFrame, site: String, checks: Checks): Sum = {
    val forced = checksumFrame(df)
    if (checked.add(site)) checks.guard(s"plan self-check at $site") {
      val before = operators(df.queryExecution.optimizedPlan)
      val after = operators(forced.queryExecution.optimizedPlan)
      // the checksum adds exactly one Aggregate on top
      val lost = before.filter { case (k, n) =>
        after.getOrElse(k, 0) - (if (k == "Aggregate") 1 else 0) < n }
      checks(lost.isEmpty,
        s"$site: forcing dropped operators ${lost.keys.mkString(",")} ($before -> $after)")
    }
    val r = forced.head()
    Sum(r.getLong(0), r.getLong(1))
  }

  def checksumFrame(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => col(s"`$c`"))
    df.agg(count(lit(1)).as("rows"),
      coalesce(bit_xor(xxhash64(cols.toIndexedSeq: _*)), lit(0L)).as("hash"))
  }

  /** Counts of the operator kinds a `count()` would lose. */
  def operators(p: LogicalPlan): Map[String, Int] = {
    val kinds = p.collect {
      case _: Window => "Window"
      case _: Join => "Join"
      case _: Aggregate => "Aggregate"
      case _: Generate => "Generate"
    } ++ p.subqueries.flatMap(s => operators(s).flatMap { case (k, n) => Seq.fill(n)(k) })
    kinds.groupBy(identity).map { case (k, v) => k -> v.size }
  }
}

package graft

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Snapshots

/** The snapshot log records each commit's Spark schema and each
  * deletion-vector sidecar's per-file summary, so building a read runs
  * no Spark job. The schema a read gets must be exactly the one a plain
  * `spark.read.parquet(files…)` infers over the same files, and a log
  * written before these records existed must still read correctly. */
class SnapshotSchemaSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tbl() =
    java.nio.file.Files.createTempDirectory("graft_snapschema_").toString

  private def orders = Tables.load(spark, sf0001, "orders")
    .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")

  /** Spark jobs started while `body` runs. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerDrain(sc) // earlier events must not reach the new listener
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The read of `version` has the schema a plain read of its files infers. */
  private def assertParity(t: String, version: Long): Unit = {
    val files = Snapshots.filesAt(spark, t, version)
    val plain = spark.read.parquet(files: _*).schema
    val got = Snapshots.read(spark, t, Some(version)).schema
    assert(got == plain, s"$t v$version: read schema $got != plain read $plain")
  }

  /** Rewrite every manifest of `t` as one written before the log
    * recorded schemas and DV summaries. */
  private def stripLog(t: String): Unit = {
    val f = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new ObjectMapper()
    f.listStatus(new Path(t, "_graft_log")).map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .foreach { p =>
        val node = { val in = f.open(p); try mapper.readTree(in) finally in.close() }
          .asInstanceOf[ObjectNode]
        node.remove(java.util.Arrays.asList("schema", "schemas", "dvRefs"))
        val out = f.create(p, true)
        try out.write(mapper.writeValueAsBytes(node)) finally out.close()
      }
    Snapshots.invalidateCaches(t)
  }

  test("building a copy-on-write read runs no job; the manifest records the schema") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 2 === 0).repartition(3))
    Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 2 === 1).repartition(2))
    Snapshots.invalidateCaches(t) // cold: the state is folded from the log
    var df: DataFrame = null
    assert(jobsIn { df = Snapshots.read(spark, t) } == 0)
    assert(sameRows(df, orders))
    val manifest = new ObjectMapper().readTree(
      new java.io.File(t, "_graft_log/v00000000001.json"))
    assert(manifest.has("schema"), manifest.toString)
  }

  test("reads of a restored and of a checkpointed version run no job") {
    val t = tbl()
    val a = orders.filter($"o_orderkey" % 3 === 0)
    Snapshots.commit(spark, t, a)
    Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 3 =!= 0))
    val restored = Snapshots.restore(spark, t, 0L)
    Snapshots.invalidateCaches(t)
    var df: DataFrame = null
    assert(jobsIn { df = Snapshots.read(spark, t, Some(restored)) } == 0)
    assert(sameRows(df, a))
    Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 3 === 1))
    val ck = Snapshots.checkpoint(spark, t)
    Snapshots.invalidateCaches(t) // the fold now starts from the sidecar
    assert(jobsIn { df = Snapshots.read(spark, t, Some(ck)) } == 0)
    assert(df.count() == a.count() + orders.filter($"o_orderkey" % 3 === 1).count())
  }

  test("a warm rebuild of a merge-on-read read runs no job, also from a cold log fold") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartition(3))
    Snapshots.deleteWhereMor(spark, t, $"o_custkey" % 5 === 0)
    Snapshots.mergeIntoMor(spark, t,
      orders.filter($"o_orderkey" % 7 === 0).withColumn("o_totalprice", lit(1.0)),
      Seq("o_orderkey"))
    val expected = orders.filter($"o_custkey" % 5 =!= 0 && $"o_orderkey" % 7 =!= 0)
      .unionByName(orders.filter($"o_orderkey" % 7 === 0).withColumn("o_totalprice", lit(1.0)))
    assert(sameRows(Snapshots.read(spark, t), expected)) // builds the DV bitmaps
    var df: DataFrame = null
    assert(jobsIn { df = Snapshots.read(spark, t) } == 0)
    Snapshots.invalidateCaches(t)
    assert(jobsIn { df = Snapshots.read(spark, t) } == 0,
      "dirty files and the bitmap budget must come from the log")
    assert(sameRows(df, expected))
    // the log's DV summaries agree with the sidecars they summarize
    val dv = Snapshots.dvStats(spark, t)
    assert(dv.dvRows == orders.count() - orders.filter($"o_custkey" % 5 =!= 0).count() +
      orders.filter($"o_custkey" % 5 =!= 0 && $"o_orderkey" % 7 === 0).count())
    assert(Snapshots.countAt(spark, t).contains(expected.count()))
  }

  test("a log written without schemas reads the same rows: at most one job first, none after") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 2 === 0).repartition(2))
    Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 2 === 1).repartition(2))
    stripLog(t)
    var df: DataFrame = null
    assert(jobsIn { df = Snapshots.read(spark, t) } <= 1)
    assert(jobsIn { df = Snapshots.read(spark, t) } == 0)
    assert(sameRows(df, orders))
    assertParity(t, 1L)
    // merge-on-read sidecars without summaries still subtract exactly
    Snapshots.deleteWhereMor(spark, t, $"o_custkey" % 4 === 0)
    stripLog(t)
    val live = orders.filter($"o_custkey" % 4 =!= 0)
    assert(sameRows(Snapshots.read(spark, t), live))
    assert(Snapshots.countAt(spark, t).contains(live.count()))
    assert(Snapshots.dvStats(spark, t).dvRows == orders.count() - live.count())
  }

  test("read schema == plain read schema: plain, partitioned and nested-type tables") {
    val plain = tbl()
    Snapshots.commit(spark, plain, orders)
    assertParity(plain, 0L)

    val parted = tbl()
    Snapshots.setPartitionColumns(spark, parted, Seq("o_orderpriority"))
    Snapshots.commit(spark, parted, orders)
    assertParity(parted, 0L)

    val typed = tbl()
    val rich = spark.range(40).select(
      $"id".cast("int").as("i"), // non-nullable in the write
      timestamp_seconds($"id" * 3600L + 1704067200L).as("ts"),
      ($"id" / 7).cast("decimal(12,3)").as("dec"),
      array($"id", $"id" + 1).as("arr"),
      map(lit("k"), $"id").as("m"),
      struct($"id".as("x"), $"id".cast("string").as("y")).as("st"),
      to_date(lit("2024-02-29")).as("d"))
    Snapshots.commit(spark, typed, rich)
    assertParity(typed, 0L)
    // map columns rule out set operations: compare rows as JSON
    assert(Snapshots.read(spark, typed).toJSON.collect().sorted
      .sameElements(rich.toJSON.collect().sorted))
  }

  test("read schema == plain read schema on an evolved table, whichever file sorts first") {
    // Parquet infers from the file whose path sorts first, and commit
    // dirs are named at random: make base + evolved two-commit tables
    // until both orders have been read
    val narrow = orders.limit(60)
    val wide = narrow.withColumn("o_extra", $"o_orderkey" * 2)
    val seen = scala.collection.mutable.Set.empty[Boolean]
    var tries = 0
    while (seen.size < 2 && tries < 40) {
      val t = tbl()
      Snapshots.commit(spark, t, narrow.repartition(1))
      Snapshots.commit(spark, t, wide.repartition(1))
      val wideFirst = Snapshots.filesAt(spark, t, 1L).min != Snapshots.filesAt(spark, t, 0L).head
      assertParity(t, 0L)
      assertParity(t, 1L)
      assert(Snapshots.read(spark, t).columns.contains("o_extra") == wideFirst)
      // schema evolution reads still merge every footer
      assert(Snapshots.readEvolved(spark, t).columns.contains("o_extra"))
      seen += wideFirst
      tries += 1
    }
    assert(seen.size == 2, s"only wideFirst = $seen in $tries tables")
  }

  test("read schema == plain read schema after restore, shallow clone and the vacuum horizon") {
    val t = tbl()
    val narrow = orders.filter($"o_orderkey" % 2 === 0)
    Snapshots.commit(spark, t, narrow.repartition(2))
    Snapshots.commit(spark, t,
      orders.filter($"o_orderkey" % 2 === 1).withColumn("o_extra", lit(1)).repartition(2))
    val r = Snapshots.restore(spark, t, 1L)
    assertParity(t, r)
    val dst = tbl()
    Snapshots.cloneShallow(spark, t, dst)
    Snapshots.invalidateCaches(dst)
    assertParity(dst, 0L)
    Snapshots.commit(spark, t, narrow.limit(5).repartition(1))
    Snapshots.vacuum(spark, t, retainVersions = 1) // folds v3 into a self-contained horizon
    val latest = Snapshots.latestVersion(spark, t).get
    assertParity(t, latest)
    val horizon = new ObjectMapper().readTree(
      new java.io.File(t, f"_graft_log/v$latest%011d.json"))
    assert(horizon.has("schema") || horizon.has("schemas"), horizon.toString)
    var df: DataFrame = null
    assert(jobsIn { df = Snapshots.read(spark, t) } == 0)
    assert(df.count() == orders.count() + 5)
  }
}

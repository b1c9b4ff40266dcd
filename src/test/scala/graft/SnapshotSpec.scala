package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Layout, Snapshots}

/** Snapshot-versioned tables: atomic manifest commits, time travel,
  * overwrite semantics, commit-collision retry, vacuum with the
  * checkpoint rewrite (retained append-versions must never dangle on
  * deleted manifests), and composition with the data-skipping layer. */
class SnapshotSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tbl() =
    java.nio.file.Files.createTempDirectory("graft_snap_").toString

  private def orders = Tables.load(spark, sf0001, "orders")
    .select($"o_orderkey", $"o_custkey", $"o_totalprice")

  test("append commits accumulate; every version stays readable as-of") {
    val t = tbl()
    val a = orders.filter($"o_orderkey" % 2 === 0)
    val b = orders.filter($"o_orderkey" % 2 === 1)
    val v0 = Snapshots.commit(spark, t, a)
    val v1 = Snapshots.commit(spark, t, b)
    assert(v0 == 0L && v1 == 1L)
    // latest = union; v0 = first batch only (immutable under the append)
    val latest = Snapshots.read(spark, t)
    assert(latest.exceptAll(orders).isEmpty && orders.exceptAll(latest).isEmpty)
    val asOf0 = Snapshots.read(spark, t, Some(0L))
    assert(asOf0.exceptAll(a).isEmpty && a.exceptAll(asOf0).isEmpty)
    val h = Snapshots.history(spark, t).orderBy($"version")
      .select($"version", $"action").as[(Long, String)].collect().toSeq
    assert(h == Seq((0L, "append"), (1L, "append")))
  }

  test("overwrite resets the visible set; pre-overwrite versions intact") {
    val t = tbl()
    Snapshots.commit(spark, t, orders)
    val small = orders.limit(10)
    val v1 = Snapshots.commit(spark, t, small, overwrite = true)
    Snapshots.commit(spark, t, orders.limit(5)) // append on top
    assert(Snapshots.read(spark, t).count() == 15)
    assert(Snapshots.read(spark, t, Some(v1)).count() == 10)
    // time travel to v0 still sees the full table
    assert(Snapshots.read(spark, t, Some(0L)).count() == orders.count())
  }

  test("commit collision: the loser lands at the next free version, nothing lost") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(3))
    // squat the next version slot, as a racing writer would
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val squat = new org.apache.hadoop.fs.Path(t, "_graft_log/v00000000001.json")
    val out = f.create(squat, false)
    out.write(
      """{"version":1,"action":"append","ts":0,"files":[]}""".getBytes("UTF-8"))
    out.close()
    val v = Snapshots.commit(spark, t, orders.limit(4))
    assert(v == 2L, s"collision must push the commit to v2, got v$v")
    assert(Snapshots.read(spark, t).count() == 7)
  }

  test("vacuum: checkpoints the horizon, reclaims unreachable files, fails loudly past it") {
    val t = tbl()
    val a = orders.filter($"o_orderkey" % 2 === 0)
    val b = orders.filter($"o_orderkey" % 2 === 1)
    Snapshots.commit(spark, t, orders)                     // v0 (replaced below)
    Snapshots.commit(spark, t, a, overwrite = true)        // v1
    Snapshots.commit(spark, t, b)                          // v2 = a ∪ b
    val before = Layout.parquetFileCount(spark, t + "/data")
    val deleted = Snapshots.vacuum(spark, t, retainVersions = 2)
    assert(deleted > 0, "v0's replaced files must be reclaimed")
    assert(Layout.parquetFileCount(spark, t + "/data") == before - deleted)
    // the horizon (v1) was an append-fold; after the checkpoint rewrite
    // BOTH retained versions still read exactly
    val v1r = Snapshots.read(spark, t, Some(1L))
    assert(v1r.exceptAll(a).isEmpty && a.exceptAll(v1r).isEmpty)
    val v2r = Snapshots.read(spark, t, Some(2L))
    assert(v2r.exceptAll(orders).isEmpty && orders.exceptAll(v2r).isEmpty)
    // past the horizon: loud manifest failure, not silent missing data
    val e = intercept[IllegalArgumentException] {
      Snapshots.read(spark, t, Some(0L))
    }
    assert(e.getMessage.contains("vacuumed"))
    // idempotent: nothing left to reclaim
    assert(Snapshots.vacuum(spark, t, retainVersions = 2) == 0L)
  }

  test("vacuum retains appended history the horizon folds over (the dangling-manifest trap)") {
    val t = tbl()
    val a = orders.filter($"o_orderkey" < 500)
    val b = orders.filter($"o_orderkey" >= 500 && $"o_orderkey" < 1000)
    val c = orders.filter($"o_orderkey" >= 1000)
    Snapshots.commit(spark, t, a)   // v0
    Snapshots.commit(spark, t, b)   // v1 — horizon after vacuum(2)
    Snapshots.commit(spark, t, c)   // v2
    // nothing is unreachable (pure appends) — vacuum must delete NO data
    assert(Snapshots.vacuum(spark, t, retainVersions = 2) == 0L)
    // v1 references v0's files; its manifest was checkpointed, so the
    // fold works without v0's manifest
    val v1r = Snapshots.read(spark, t, Some(1L))
    val ab = a.unionAll(b)
    assert(v1r.exceptAll(ab).isEmpty && ab.exceptAll(v1r).isEmpty)
    val v2r = Snapshots.read(spark, t, Some(2L))
    assert(v2r.exceptAll(orders).isEmpty && orders.exceptAll(v2r).isEmpty)
  }

  test("readChanges: append deltas between versions; loud on an overwrite in range") {
    val t = tbl()
    val a = orders.filter($"o_orderkey" < 500)
    val b = orders.filter($"o_orderkey" >= 500 && $"o_orderkey" < 1000)
    val c = orders.filter($"o_orderkey" >= 1000)
    val v0 = Snapshots.commit(spark, t, a)
    val v1 = Snapshots.commit(spark, t, b)
    val v2 = Snapshots.commit(spark, t, c)
    val delta = Snapshots.readChanges(spark, t, v0, v2)
    val bc = b.unionAll(c)
    assert(delta.exceptAll(bc).isEmpty && bc.exceptAll(delta).isEmpty)
    // from -1 = since the beginning; empty range = empty relation
    assert(Snapshots.readChanges(spark, t, -1L, v2).count() == orders.count())
    assert(Snapshots.readChanges(spark, t, v2, v2).count() == 0)
    // an overwrite in range is a full-recompute signal, never a delta
    Snapshots.commit(spark, t, a, overwrite = true) // v3
    val e = intercept[IllegalArgumentException] {
      Snapshots.readChanges(spark, t, v1, 3L)
    }
    assert(e.getMessage.contains("OVERWRITE"))
  }

  test("incremental MV from the change feed == one-shot over the latest snapshot") {
    import graft.operators.MaterializedAgg
    val t = tbl()
    val measures = Seq(
      MaterializedAgg.countRows("n"),
      // decimal: the fold order differs from the one-shot, so a double
      // sum would drift in the last bits and fail the exact compare
      MaterializedAgg.sumOf($"o_totalprice".cast("decimal(18,2)"), "sum_price"))
    val v0 = Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 3 === 0))
    var mv = MaterializedAgg.build(
      Snapshots.read(spark, t, Some(v0)), Seq("o_custkey"), measures)
    // two more ingest commits, each folded from readChanges only —
    // the stored history is never rescanned
    var last = v0
    for (m <- Seq(1, 2)) {
      val v = Snapshots.commit(spark, t, orders.filter($"o_orderkey" % 3 === m))
      val delta = MaterializedAgg.build(
        Snapshots.readChanges(spark, t, last, v), Seq("o_custkey"), measures)
      mv = MaterializedAgg.merge(mv, delta, Seq("o_custkey"), measures)
      last = v
    }
    val oneShot = MaterializedAgg.build(
      Snapshots.read(spark, t), Seq("o_custkey"), measures)
    assert(mv.exceptAll(oneShot).isEmpty && oneShot.exceptAll(mv).isEmpty)
  }

  test("commitBatch: replayed micro-batches are no-ops (exactly-once append)") {
    val t = tbl()
    val b0 = orders.limit(10)
    assert(Snapshots.commitBatch(spark, t, b0, batchId = 0L).contains(0L))
    assert(Snapshots.commitBatch(spark, t, orders.limit(25), batchId = 1L).contains(1L))
    // crash-replay of batch 1: skipped, count unchanged
    assert(Snapshots.commitBatch(spark, t, orders.limit(25), batchId = 1L).isEmpty)
    assert(Snapshots.read(spark, t).count() == 35)
    // a REAL stream through foreachBatch lands exactly-once too
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[Long](spark)
    val q = mem.toDF().toDF("o_orderkey")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Snapshots.commitBatch(spark, t + "_stream", batch, id); ()
      }.start()
    try {
      mem.addData(1L to 100L: _*); q.processAllAvailable()
      mem.addData(101L to 150L: _*); q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.read(spark, t + "_stream").count() == 150)
  }

  test("schema evolution: a new nullable column surfaces table-wide via readEvolved") {
    val t = tbl()
    Snapshots.commit(spark, t, orders)                           // 3 cols
    Snapshots.commit(spark, t,
      orders.limit(10).withColumn("o_channel", lit("web")))     // +1 col
    // the plain read keeps the un-merged (first-file) schema cheaply;
    // the evolved read unions: old rows NULL, new rows populated
    val ev = Snapshots.readEvolved(spark, t)
    assert(ev.columns.contains("o_channel"))
    assert(ev.filter($"o_channel".isNull).count() == orders.count())
    assert(ev.filter($"o_channel" === "web").count() == 10)
    // time travel predates the evolution: no phantom column
    assert(!Snapshots.readEvolved(spark, t, Some(0L)).columns.contains("o_channel"))
  }

  test("compactLatest: transactional OPTIMIZE — content invariant, files bounded, history intact") {
    val t = tbl()
    // simulate a streaming ingest: 12 tiny commits = many small files
    (0 until 12).foreach { i =>
      Snapshots.commitBatch(spark, t,
        orders.filter($"o_orderkey" % 12 === i).repartition(4), batchId = i)
    }
    val before = Snapshots.filesAt(spark, t, 11L).size
    assert(before == 48, s"expected 48 small files, got $before")
    val v = Snapshots.compactLatest(spark, t, targetRowsPerFile = 1000)
    val after = Snapshots.filesAt(spark, t, v).size
    assert(after < before / 4, s"compaction must shrink the file count ($before -> $after)")
    val got = Snapshots.read(spark, t)
    assert(got.exceptAll(orders).isEmpty && orders.exceptAll(got).isEmpty)
    // the pre-compaction version still time-travels (until vacuum)
    assert(Snapshots.read(spark, t, Some(11L)).count() == orders.count())
    // and vacuum reclaims the 48 small files once the horizon passes them
    assert(Snapshots.vacuum(spark, t, retainVersions = 1) == before)
  }

  test("checkpoint: sidecar fold — reads identical, manifests untouched, change feed crosses it") {
    val t = tbl()
    val parts = (0 until 6).map(i => orders.filter($"o_orderkey" % 6 === i))
    parts.take(4).zipWithIndex.foreach { case (p, i) =>
      Snapshots.commitBatch(spark, t, p, batchId = i)
    }
    val before = Snapshots.filesAt(spark, t, 3L)
    val cv = Snapshots.checkpoint(spark, t)
    assert(cv == 3L)
    // identical resolution through the checkpoint
    assert(Snapshots.filesAt(spark, t, 3L).sorted == before.sorted)
    // commits continue on top; the fold starts from the checkpoint
    parts.drop(4).zipWithIndex.foreach { case (p, i) =>
      Snapshots.commitBatch(spark, t, p, batchId = 4 + i)
    }
    val latest = Snapshots.read(spark, t)
    assert(latest.exceptAll(orders).isEmpty && orders.exceptAll(latest).isEmpty)
    // manifests untouched: a change-feed range CROSSING the checkpoint
    // still reads exactly the appended rows (the vacuum horizon rewrite
    // could not do this — that is why checkpoints are sidecars)
    val delta = Snapshots.readChanges(spark, t, 2L, 5L)
    val want = parts.drop(3).reduce(_ unionAll _)
    assert(delta.exceptAll(want).isEmpty && want.exceptAll(delta).isEmpty)
    // pre-checkpoint time travel intact
    assert(Snapshots.read(spark, t, Some(1L)).count() ==
      parts.take(2).map(_.count()).sum)
  }

  test("checkpoint bounds the log fold: O(commits since checkpoint), not O(versions)") {
    val t = tbl()
    val tiny = orders.limit(2).repartition(1)
    (0 until 60).foreach(i => Snapshots.commitBatch(spark, t, tiny, batchId = i))
    def foldMillis(): Double = {
      Snapshots.filesAt(spark, t, 59L) // warm FS metadata
      val t0 = System.nanoTime()
      (1 to 5).foreach(_ => Snapshots.filesAt(spark, t, 59L))
      (System.nanoTime() - t0) / 5e6
    }
    val cold = foldMillis()
    Snapshots.checkpoint(spark, t)
    val ckpt = foldMillis()
    // 60 manifest reads vs 1 checkpoint read: demand a clear drop, not
    // a precise ratio (FS timing noise)
    assert(ckpt < cold / 2,
      f"checkpointed fold $ckpt%.1f ms must be well under the $cold%.1f ms full fold")
  }

  test("createView: SQL over a pinned version; streamChanges: commits flow exactly-once") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(100))
    Snapshots.createView(spark, t, "snap_orders", Some(0L))
    assert(spark.sql("SELECT COUNT(*) FROM snap_orders").head.getLong(0) == 100)
    // a later commit does not move the pinned view until re-registered
    Snapshots.commit(spark, t, orders.limit(40))
    assert(spark.sql("SELECT COUNT(*) FROM snap_orders").head.getLong(0) == 100)
    Snapshots.createView(spark, t, "snap_orders")
    assert(spark.sql("SELECT COUNT(*) FROM snap_orders").head.getLong(0) == 140)

    // streaming: the file source drains existing commits, then picks up
    // a NEW commit's files, each exactly once
    val st = tbl()
    Snapshots.commitBatch(spark, st, orders.limit(30), batchId = 0)
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val q = Snapshots.streamChanges(spark, st, orders.schema)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.addAndGet(b.count()); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(sink.get() == 30)
      Snapshots.commitBatch(spark, st, orders.limit(50), batchId = 1)
      q.processAllAvailable()
      assert(sink.get() == 80, s"new commit must stream once, got ${sink.get()}")
    } finally q.stop()
  }

  test("deleteWhere: copy-on-write touches only files holding a match") {
    val t = tbl()
    // range-clustered on the delete key: a narrow key predicate lands
    // in few files — the layout a 100 TB delete relies on
    Snapshots.commit(spark, t, orders.repartitionByRange(8, $"o_orderkey"))
    val before = Snapshots.filesAt(spark, t, 0L)
    val nDel = orders.filter($"o_orderkey" <= 100L).count()
    val cow = Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 100L)
    assert(cow.version.contains(1L))
    assert(cow.filesRewritten < before.size,
      s"clustered delete must not rewrite all ${before.size} files")
    // untouched files are carried BY REFERENCE (same physical paths):
    // exactly filesRewritten of v0's paths leave the visible set
    val after = Snapshots.filesAt(spark, t, 1L).toSet
    val replaced = before.filterNot(after.contains)
    assert(replaced.size == cow.filesRewritten)
    // rows: only matches gone; time travel still sees them
    val latest = Snapshots.read(spark, t)
    assert(latest.count() == orders.count() - nDel)
    assert(latest.filter($"o_orderkey" <= 100L).isEmpty)
    assert(Snapshots.read(spark, t, Some(0L)).count() == orders.count())
    // a no-match delete commits nothing
    val noop = Snapshots.deleteWhere(spark, t, $"o_orderkey" < 0L)
    assert(noop.version.isEmpty && noop.filesRewritten == 0)
    assert(Snapshots.latestVersion(spark, t).contains(1L))
    // history records the copy-on-write footprint
    val h = Snapshots.history(spark, t).orderBy($"version")
      .select($"action", $"n_removed").as[(String, Int)].collect()
    assert(h(1) == ("replace", cow.filesRewritten))
  }

  test("deleteWhere: NULL-condition rows are kept (SQL DELETE semantics)") {
    val t = tbl()
    val df = Seq((1L, Some(1.0)), (2L, None), (3L, Some(9.0)))
      .toDF("id", "v")
    Snapshots.commit(spark, t, df)
    Snapshots.deleteWhere(spark, t, $"v" < 5.0)
    val left = Snapshots.read(spark, t).select($"id").as[Long].collect().sorted
    assert(left.toSeq == Seq(2L, 3L), "NULL predicate must not delete")
  }

  test("updateWhere: set-expressions evaluate against the OLD row") {
    val t = tbl()
    val df = Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("id", "a", "b")
    Snapshots.commit(spark, t, df)
    // a↔b swap is only correct if neither expression sees the other's result
    val cow = Snapshots.updateWhere(spark, t, $"id" === 1L,
      Map("a" -> ($"b" + 1L), "b" -> ($"a" + 1L)))
    assert(cow.version.contains(1L))
    val got = Snapshots.read(spark, t).orderBy($"id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 21L, 11L), (2L, 30L, 40L)))
  }

  test("mergeInto: matched rows replaced, new keys inserted, touched-file footprint") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(8, $"o_orderkey"))
    val before = Snapshots.filesAt(spark, t, 0L)
    // corrections: re-price 5 clustered keys + insert 3 brand-new keys
    val updates = orders.filter($"o_orderkey".between(1L, 64L)).limit(5)
      .withColumn("o_totalprice", lit(-1.0))
    val maxKey = orders.agg(max($"o_orderkey")).head.getLong(0)
    val inserts = Seq(maxKey + 1, maxKey + 2, maxKey + 3)
      .toDF("o_orderkey")
      .withColumn("o_custkey", lit(7L))
      .withColumn("o_totalprice", lit(99.0))
    val cow = Snapshots.mergeInto(spark, t,
      updates.unionByName(inserts.select(updates.columns.map(col): _*)),
      Seq("o_orderkey"))
    assert(cow.filesRewritten > 0 && cow.filesRewritten < before.size,
      s"merge on clustered keys rewrote ${cow.filesRewritten}/${before.size}")
    val latest = Snapshots.read(spark, t)
    assert(latest.count() == orders.count() + 3)
    assert(latest.filter($"o_totalprice" === -1.0).count() == 5)
    assert(latest.filter($"o_orderkey" > maxKey).count() == 3)
    // a duplicate-keyed source is rejected before it double-inserts
    val dup = updates.unionByName(updates)
    intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, t, dup, Seq("o_orderkey"))
    }
    // an insert-only source appends without rewriting anything
    val more = inserts.select(updates.columns.map(col): _*)
      .withColumn("o_orderkey", $"o_orderkey" + 10L)
    val cow2 = Snapshots.mergeInto(spark, t, more, Seq("o_orderkey"))
    assert(cow2.filesRewritten == 0)
    val acts = Snapshots.history(spark, t).orderBy($"version")
      .select($"action").as[String].collect().toSeq
    assert(acts == Seq("append", "replace", "append"))
  }

  test("replace commits: change feed refuses the range; vacuum reclaims dead files") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(4, $"o_orderkey"))
    val cow = Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 50L)
    val ex = intercept[IllegalArgumentException] {
      Snapshots.readChanges(spark, t, -1L, cow.version.get)
    }
    assert(ex.getMessage.contains("REPLACE"))
    // the replaced (pre-delete) files die at vacuum, reads survive
    val n = Snapshots.read(spark, t).count()
    val reclaimed = Snapshots.vacuum(spark, t, retainVersions = 1)
    assert(reclaimed >= cow.filesRewritten)
    assert(Snapshots.read(spark, t).count() == n)
  }

  test("copy-on-write discovery composes with the bloom index (candidates)") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(8, $"o_orderkey"))
    val files = Snapshots.filesAt(spark, t, 0L)
    val bi = Layout.bloomIndexFiles(spark, files, "o_orderkey", 2048)
    val cand = Layout.pruneFilesByKeys(bi, Seq(42L))
    assert(cand.size < files.size, "bloom must narrow the candidate set")
    val cow = Snapshots.deleteWhere(spark, t, $"o_orderkey" === 42L,
      candidates = Some(cand))
    assert(cow.filesRewritten <= cand.size)
    assert(Snapshots.read(spark, t).filter($"o_orderkey" === 42L).isEmpty)
    assert(Snapshots.read(spark, t).count() == orders.count() - 1)
  }

  test("restore: zero-copy rollback; the bad commits stay time-travelable") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(4, $"o_orderkey")) // v0
    Snapshots.commit(spark, t, orders.limit(20))                            // v1
    Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 500L)                  // v2
    val v3 = Snapshots.restore(spark, t, 0L)
    assert(v3 == 3L)
    // latest == v0 again, by REFERENCE (same physical files, no rewrite)
    assert(Snapshots.filesAt(spark, t, v3) == Snapshots.filesAt(spark, t, 0L))
    assert(Snapshots.read(spark, t).count() == orders.count())
    // the rolled-back states remain auditable until vacuum
    assert(Snapshots.read(spark, t, Some(2L))
      .filter($"o_orderkey" <= 500L).isEmpty)
    intercept[IllegalArgumentException] {
      Snapshots.restore(spark, t, 99L) // unknown version is loud
    }
  }

  test("mergeBatch: idempotent streaming upsert — replayed batches are no-ops") {
    val t = tbl()
    val base = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
    Snapshots.commit(spark, t, base.repartition(2))
    val delta = Seq((2L, 99.0), (4L, 40.0)).toDF("id", "v")
    val first = Snapshots.mergeBatch(spark, t, delta, Seq("id"), batchId = 7L)
    assert(first.exists(_.version.contains(1L)))
    val got = Snapshots.read(spark, t).orderBy($"id").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)))
    // crash-replay of the same micro-batch: no commit, no double-apply
    assert(Snapshots.mergeBatch(spark, t, delta, Seq("id"), batchId = 7L).isEmpty)
    assert(Snapshots.latestVersion(spark, t).contains(1L))
    assert(Snapshots.read(spark, t).count() == 4)
    // the next batch proceeds normally
    val next = Snapshots.mergeBatch(spark, t,
      Seq((4L, 41.0)).toDF("id", "v"), Seq("id"), batchId = 8L)
    assert(next.exists(_.version.contains(2L)))
    assert(Snapshots.read(spark, t).filter($"v" === 41.0).count() == 1)
  }

  test("conflict detection: overlapping racing replaces fail, they never resurrect rows") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(4, $"o_orderkey"))
    // a racing delete of an OVERLAPPING key band lands in the commit
    // window of ours — both would rewrite the low-key file
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 100L)
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 200L)
      }
    } finally Snapshots.raceHook = () => ()
    // the winner's delete is the table state; the loser left no trace
    val latest = Snapshots.read(spark, t)
    assert(latest.filter($"o_orderkey" <= 100L).isEmpty)
    assert(latest.count() == orders.filter($"o_orderkey" > 100L).count())
    // re-running the loser against the new state succeeds
    val retry = Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 200L)
    assert(retry.version.nonEmpty)
    assert(Snapshots.read(spark, t).count() ==
      orders.filter($"o_orderkey" > 200L).count())
  }

  test("conflict detection: disjoint replaces and appends commute with a replace") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(8, $"o_orderkey"))
    val maxKey = orders.agg(max($"o_orderkey")).head.getLong(0)
    // racing delete touches the HIGH end; ours the LOW end — disjoint
    // touched sets, both must land
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.deleteWhere(spark, t, $"o_orderkey" > maxKey - 100L)
    }
    try {
      val cow = Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 100L)
      assert(cow.version.contains(2L), "disjoint replace must commit after the racer")
    } finally Snapshots.raceHook = () => ()
    val want = orders.filter($"o_orderkey" > 100L && $"o_orderkey" <= maxKey - 100L)
    assert(Snapshots.read(spark, t).count() == want.count())
    // an append racing a replace also commutes: both land, nothing lost
    val k = want.agg(min($"o_orderkey")).head.getLong(0)
    val nBefore = Snapshots.read(spark, t).count()
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.commit(spark, t, orders.filter($"o_orderkey" =!= k).limit(7))
    }
    try {
      val cow2 = Snapshots.deleteWhere(spark, t, $"o_orderkey" === k)
      assert(cow2.version.isDefined)
    } finally Snapshots.raceHook = () => ()
    assert(Snapshots.read(spark, t).count() == nBefore - 1 + 7)
  }

  test("compaction COMMUTES with a racing append: both land, nothing lost") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(100).repartition(6))
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.commit(spark, t, orders.limit(40)) // concurrent ingest
    }
    // the compaction is a replace of exactly the files it read, so the
    // racing batch's files carry through the fold untouched — on a live
    // streaming table housekeeping must not starve
    try Snapshots.compactLatest(spark, t, targetRowsPerFile = 1000)
    finally Snapshots.raceHook = () => ()
    assert(Snapshots.read(spark, t).count() == 140)
    // but a racing REWRITE of a file being compacted still conflicts
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.deleteWhere(spark, t, lit(true)) // rewrites every file
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.compactLatest(spark, t, targetRowsPerFile = 1000)
      }
    } finally Snapshots.raceHook = () => ()
  }

  test("compactSmall: only undersized files fold, bin-packed; a repeat finds nothing") {
    val t = tbl()
    // 6 tiny files + 1 genuinely big file (~800 KB of random strings)
    Snapshots.commit(spark, t,
      spark.range(0, 600).select($"id", lit("x").as("pad")).repartition(6))
    Snapshots.commit(spark, t,
      spark.range(600, 50600)
        .select($"id", sha2($"id".cast("string"), 256).as("pad"))
        .repartition(1))
    val cow = Snapshots.compactSmall(spark, t,
      targetRowsPerFile = 10000, smallFileMaxBytes = 64 * 1024)
    assert(cow.version.nonEmpty, "six undersized files should fold")
    assert(cow.filesRewritten == 6 && cow.filesVisible == 7,
      s"expected 6/7 rewritten, got ${cow.filesRewritten}/${cow.filesVisible}")
    val got = Snapshots.read(spark, t)
    assert(got.count() == 50600 && got.select($"id").distinct().count() == 50600)
    // the 6 tiny files bin-packed down; content identical
    val after = Snapshots.history(spark, t)
      .orderBy($"version".desc).select($"n_files").head.getInt(0)
    assert(after < 6)
    // a second run has nothing worth folding (one packed file < minFiles)
    assert(Snapshots.compactSmall(spark, t, 10000, 64 * 1024).version.isEmpty)
  }

  test("incremental index maintenance: changedFiles + zoneMapApply/bloomIndexApply == rebuild") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(8, $"o_orderkey")) // v0
    val cols = Seq("o_orderkey")
    var zm = Layout.zoneMapFiles(spark, Snapshots.filesAt(spark, t, 0L), cols)
    var bi = Layout.bloomIndexFiles(spark, Snapshots.filesAt(spark, t, 0L),
      "o_orderkey", 512)
    // append ingest: delta is (new files, nothing)
    Snapshots.commit(spark, t, orders.limit(30).repartition(2))            // v1
    val (a1, r1) = Snapshots.changedFiles(spark, t, 1L)
    assert(a1.size == 2 && r1.isEmpty)
    zm = Layout.zoneMapApply(spark, zm, cols, a1, r1)
    bi = Layout.bloomIndexApply(spark, bi, "o_orderkey", 512, a1, r1)
    // copy-on-write delete: delta is (rewritten files, touched files)
    val cow = Snapshots.deleteWhere(spark, t, $"o_orderkey" <= 100L)       // v2
    val (a2, r2) = Snapshots.changedFiles(spark, t, cow.version.get)
    assert(r2.size == cow.filesRewritten && r2.nonEmpty)
    zm = Layout.zoneMapApply(spark, zm, cols, a2, r2)
    bi = Layout.bloomIndexApply(spark, bi, "o_orderkey", 512, a2, r2)
    // the folded index equals a from-scratch rebuild over the latest version
    val latestFiles = Snapshots.filesAt(spark, t,
      Snapshots.latestVersion(spark, t).get)
    val zmRebuilt = Layout.zoneMapFiles(spark, latestFiles, cols)
    assert(zm.exceptAll(zmRebuilt).isEmpty && zmRebuilt.exceptAll(zm).isEmpty,
      "incrementally-folded zone map must equal the rebuild")
    // bloom: identical PRUNING behavior on live + deleted keys
    val biRebuilt = Layout.bloomIndexFiles(spark, latestFiles, "o_orderkey", 512)
    val probes: Seq[Any] = Seq(42L, 101L, 500L, 1201L)
    assert(Layout.pruneFilesByKeys(bi, probes).sorted ==
      Layout.pruneFilesByKeys(biRebuilt, probes).sorted)
    // and the folded index actually serves pruned reads
    val hit = Layout.pruneFilesByKeys(bi, Seq(1201L))
    assert(hit.size < latestFiles.size)
    // restore: changedFiles reports the by-reference delta exactly
    val v3 = Snapshots.restore(spark, t, 0L)
    val (a3, r3) = Snapshots.changedFiles(spark, t, v3)
    val prev = Snapshots.filesAt(spark, t, cow.version.get).toSet
    assert((prev -- r3 ++ a3) == Snapshots.filesAt(spark, t, v3).toSet)
  }

  test("deleteRange: fully-covered files drop metadata-only, boundary files rewrite") {
    val t = tbl()
    val base = spark.range(0, 1000).toDF("id")
      .withColumn("v", when($"id" < 990, $"id").otherwise(lit(null: java.lang.Long)))
    Snapshots.commit(spark, t, base.repartitionByRange(8, $"v"))
    val cow = Snapshots.deleteRange(spark, t, "v", 100L, 400L)
    // interior files of the range die WITHOUT a rewrite; the two
    // boundary files rewrite; the rest are untouched
    assert(cow.filesDropped >= 1, s"expected metadata-only drops, got $cow")
    assert(cow.filesRewritten >= 1 && cow.filesRewritten <= 2, s"got $cow")
    assert(cow.filesDropped + cow.filesRewritten < 8)
    val got = Snapshots.read(spark, t)
    assert(got.filter($"v".between(100L, 400L)).isEmpty)
    assert(got.count() == 1000 - 301)
    // NULL rows never match a range delete — all 10 survive
    assert(got.filter($"v".isNull).count() == 10)
    // a maintained zone map feeds the fast path directly (no rebuild
    // scan) and a no-match range commits nothing
    val files = Snapshots.filesAt(spark, t, Snapshots.latestVersion(spark, t).get)
    val zm = Layout.zoneMapFiles(spark, files, Seq("v"))
    val noop = Snapshots.deleteRange(spark, t, "v", 5000L, 6000L, zm = Some(zm))
    assert(noop.version.isEmpty && noop.filesDropped == 0)
    // and with the zone map: drop everything below 50 (file 0 rewrites
    // for its NULLs?: NULLs sort FIRST in range partitioning, so the
    // low file holds them — it must REWRITE, not drop)
    val cow2 = Snapshots.deleteRange(spark, t, "v", 0L, 50L, zm = Some(zm))
    assert(cow2.version.nonEmpty)
    val after = Snapshots.read(spark, t)
    assert(after.filter($"v" <= 50L).isEmpty)
    assert(after.filter($"v".isNull).count() == 10,
      "NULLs must survive a delete of their co-located file's value range")
  }

  test("live CDC stream lands via mergeBatch: upserts apply in order, exactly-once") {
    val t = tbl()
    Snapshots.commit(spark, t,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v").repartition(2))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, Double)](spark)
    val q = mem.toDF().toDF("id", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // dedupe inside the batch (CDC streams can carry several
        // updates for one key per trigger — keep the last)
        val last = batch.groupBy("id")
          .agg(org.apache.spark.sql.functions.last("v").as("v"))
        Snapshots.mergeBatch(spark, t, last, Seq("id"), id); ()
      }.start()
    try {
      mem.addData((2L, 21.0), (4L, 40.0)); q.processAllAvailable()
      mem.addData((4L, 41.0), (5L, 50.0)); q.processAllAvailable()
    } finally q.stop()
    val got = Snapshots.read(spark, t).orderBy($"id").as[(Long, Double)]
      .collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 21.0), (3L, 30.0), (4L, 41.0), (5L, 50.0)))
    // every micro-batch's manifest carries its batchId — the replay
    // guard a restarted stream relies on
    val h = Snapshots.history(spark, t).count()
    assert(h == 3)
  }

  test("readAsOf: timestamp time travel resolves the newest commit at-or-before") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(10))
    val ts0 = Snapshots.history(spark, t).agg(max($"ts")).head.getLong(0)
    Thread.sleep(5)
    Snapshots.commit(spark, t, orders.limit(25))
    assert(Snapshots.readAsOf(spark, t, ts0).count() == 10)
    assert(Snapshots.readAsOf(spark, t, System.currentTimeMillis()).count() == 35)
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, t, ts0 - 1000000L)
    }
  }

  test("CHECK constraints: violating commits refused whole, SQL NULL semantics, persist") {
    val t = tbl()
    Snapshots.addConstraint(spark, t, "price_pos", "o_totalprice > 0")
    Snapshots.commit(spark, t, orders.limit(50))
    // a batch with ONE bad row is refused whole — no version, no rows
    val bad = orders.limit(10)
      .withColumn("o_totalprice", when($"o_orderkey" % 3 === 0, -1.0)
        .otherwise($"o_totalprice"))
    val ex = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, t, bad)
    }
    assert(ex.getMessage.contains("price_pos"))
    assert(Snapshots.latestVersion(spark, t).contains(0L))
    assert(Snapshots.read(spark, t).count() == 50)
    // SQL CHECK semantics: NULL satisfies (only definite FALSE violates)
    Snapshots.commit(spark, t, orders.limit(5)
      .withColumn("o_totalprice", lit(null).cast("double")))
    assert(Snapshots.read(spark, t).count() == 55)
    // DML goes through the same gate: an UPDATE to a violating value dies
    val ex2 = intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, t, $"o_orderkey" > 0L,
        Map("o_totalprice" -> lit(-5.0)))
    }
    assert(ex2.getMessage.contains("price_pos"))
    assert(Snapshots.read(spark, t).filter($"o_totalprice" === -5.0).isEmpty)
    // registering a constraint the CURRENT snapshot violates is refused
    intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, t, "impossible", "o_totalprice > 1e12")
    }
    // constraints persist on disk and drop cleanly
    assert(Snapshots.constraints(spark, t) == Map("price_pos" -> "o_totalprice > 0"))
    Snapshots.dropConstraint(spark, t, "price_pos")
    Snapshots.commit(spark, t, bad) // now allowed
    assert(Snapshots.read(spark, t).count() == 65)
  }

  test("vacuumOlderThan: age-based retention keeps the at-or-after suffix") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(10))
    Thread.sleep(5)
    Snapshots.commit(spark, t, orders.limit(20))
    val cut = Snapshots.history(spark, t).agg(max($"ts")).head.getLong(0)
    Thread.sleep(5)
    Snapshots.commit(spark, t, orders.limit(30))
    Snapshots.vacuumOlderThan(spark, t, cut)
    // v0 is gone (pre-cutoff), v1 (at cutoff) and v2 retained
    assert(Snapshots.versions(spark, t) == Seq(1L, 2L))
    assert(Snapshots.read(spark, t).count() == 60)
    assert(Snapshots.read(spark, t, Some(1L)).count() == 30)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, t, Some(0L))
    }
    // a cutoff in the future still retains the latest version
    Snapshots.vacuumOlderThan(spark, t, System.currentTimeMillis() + 1000000L)
    assert(Snapshots.versions(spark, t) == Seq(2L))
    assert(Snapshots.read(spark, t).count() == 60)
  }

  test("cloneShallow: zero-copy branch; branch DML never touches the parent") {
    val src = tbl(); val dst = tbl()
    Snapshots.commit(spark, src, orders.repartitionByRange(8, $"o_orderkey"))
    Snapshots.cloneShallow(spark, src, dst)
    // born equal, sharing every physical file
    assert(Snapshots.filesAt(spark, dst, 0L) == Snapshots.filesAt(spark, src, 0L))
    assert(Snapshots.read(spark, dst).count() == orders.count())
    // COW delete on the BRANCH: parent untouched, untouched files shared
    val cow = Snapshots.deleteWhere(spark, dst, $"o_orderkey" <= 100L)
    assert(Snapshots.read(spark, src).count() == orders.count(),
      "parent must not observe branch DML")
    val srcFiles = Snapshots.filesAt(spark, src, 0L).toSet
    val dstFiles = Snapshots.filesAt(spark, dst, cow.version.get).toSet
    assert((srcFiles & dstFiles).size == srcFiles.size - cow.filesRewritten,
      "untouched files stay shared by reference")
    // vacuum on the branch sweeps only dst/data — shared parent files
    // are structurally out of reach
    Snapshots.vacuum(spark, dst, retainVersions = 1)
    assert(Snapshots.read(spark, src, Some(0L)).count() == orders.count())
    assert(Snapshots.read(spark, dst).filter($"o_orderkey" <= 100L).isEmpty)
    // a second clone onto an existing log is refused
    intercept[IllegalArgumentException] {
      Snapshots.cloneShallow(spark, src, dst)
    }
  }

  test("snapshot file lists compose with the skipping layer (zoneMapFiles)") {
    val t = tbl()
    Snapshots.commit(spark, t,
      orders.repartitionByRange(4, $"o_totalprice"))          // v0
    Snapshots.commit(spark, t,
      orders.limit(50).repartition(1), overwrite = true)      // v1
    // index ONLY v0's files: the manifest feeds the zone map directly,
    // no sweep of other versions' commit dirs
    val v0files = Snapshots.filesAt(spark, t, 0L)
    val zm = Layout.zoneMapFiles(spark, v0files, Seq("o_totalprice"))
    assert(zm.count() == v0files.size)
    val kept = Layout.pruneFiles(zm,
      Layout.rangeEnvelope("o_totalprice", lit(50000.0), lit(60000.0)))
    assert(kept.nonEmpty && kept.size < v0files.size)
    val got = Layout.prunedParquet(spark, t + "/data", kept)
      .filter($"o_totalprice".between(50000.0, 60000.0))
    val want = orders.filter($"o_totalprice".between(50000.0, 60000.0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the bloom index pairs the same way: point lookup inside v0 only
    val bi = Layout.bloomIndexFiles(spark, v0files, "o_orderkey", 1024)
    val hit = Layout.pruneFilesByKeys(bi, Seq(42L))
    assert(hit.nonEmpty && hit.forall(v0files.contains))
    val row = Layout.prunedParquet(spark, t + "/data", hit)
      .filter($"o_orderkey" === 42L)
    assert(row.count() == orders.filter($"o_orderkey" === 42L).count())
  }

  test("vacuum preserves the horizon's batchId: a replayed batch stays a no-op across vacuum") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(50))
    assert(Snapshots.commitBatch(spark, t, orders.limit(10), batchId = 3L).nonEmpty)
    val n = Snapshots.read(spark, t).count()
    // with retainVersions=1 the horizon IS the streaming batch's commit;
    // its manifest is rewritten self-contained — the batchId must
    // survive or a crash-replay double-commits (exactly-once broken)
    Snapshots.vacuum(spark, t, retainVersions = 1)
    assert(Snapshots.commitBatch(spark, t, orders.limit(10), batchId = 3L).isEmpty,
      "replayed batch after vacuum must remain a no-op")
    assert(Snapshots.read(spark, t).count() == n)
    // and mergeBatch's idempotence contract survives the same way
    val src = orders.limit(5).select($"o_orderkey", $"o_custkey", $"o_totalprice")
    assert(Snapshots.mergeBatch(spark, t, src, Seq("o_orderkey"), batchId = 9L).nonEmpty)
    Snapshots.vacuum(spark, t, retainVersions = 1)
    assert(Snapshots.mergeBatch(spark, t, src, Seq("o_orderkey"), batchId = 9L).isEmpty)
  }

  test("vacuum horizon fold drops neutral: a change feed refuses loudly, never reads empty") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(100))
    Snapshots.commit(spark, t, orders.limit(30))
    // horizon = a content-neutral compaction (a fold, not self-contained
    // pre-rewrite — action replace): after vacuum its rewrite must NOT
    // stay neutral, else changeFeed(-1, v] would silently skip the
    // entire folded prefix instead of refusing
    Snapshots.compactLatest(spark, t, targetRowsPerFile = 1000)
    val v = Snapshots.latestVersion(spark, t).get
    Snapshots.vacuum(spark, t, retainVersions = 1)
    intercept[IllegalArgumentException] {
      Snapshots.changeFeed(spark, t, -1L, v)
    }
    // reads stay exact
    assert(Snapshots.read(spark, t).count() == 130)
  }

  test("streaming=append_only: replace/overwrite refused loudly; appends and MOR deletes flow") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(100).repartition(2))
    Snapshots.setProperty(spark, t, "streaming", "append_only")
    assert(Snapshots.properties(spark, t) == Map("streaming" -> "append_only"))
    // the allowed shapes: append, batch append, MOR delete (its deletes
    // ARE delivered by the DV stream)
    Snapshots.commit(spark, t, orders.limit(10))
    assert(Snapshots.commitBatch(spark, t, orders.limit(5), 1L).nonEmpty)
    val k = Snapshots.read(spark, t).agg(min($"o_orderkey")).head.getLong(0)
    assert(Snapshots.deleteWhereMor(spark, t, $"o_orderkey" === k).version.nonEmpty)
    // every file-rewriting / state-resetting shape refuses loudly
    intercept[IllegalStateException] {
      Snapshots.deleteWhere(spark, t, $"o_orderkey" <= k + 100L)
    }
    intercept[IllegalStateException] {
      Snapshots.compactLatest(spark, t, targetRowsPerFile = 1000)
    }
    intercept[IllegalStateException] { Snapshots.purgeDeletes(spark, t) }
    intercept[IllegalStateException] { Snapshots.restore(spark, t, 0L) }
    intercept[IllegalStateException] {
      Snapshots.commit(spark, t, orders.limit(5), overwrite = true)
    }
    // detach the stream → unset → housekeeping flows again
    Snapshots.unsetProperty(spark, t, "streaming")
    assert(Snapshots.purgeDeletes(spark, t).version.nonEmpty)
  }

  test("scoped DV conflicts: racing MOR delete on an untouched file commutes with COW DML") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.repartitionByRange(8, $"o_orderkey"))
    val q = orders.stat.approxQuantile("o_orderkey", Array(0.05, 0.95), 0.0)
    val lo = q(0).toLong; val hi = q(1).toLong
    // racing MOR delete lands in the HIGH file; our COW delete rewrites
    // the LOW file — disjoint, so (unlike the strict DV-set-equality
    // rule) the COW delete must COMMIT and both deletes must hold
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.deleteWhereMor(spark, t, $"o_orderkey" >= hi)
    }
    try {
      val cow = Snapshots.deleteWhere(spark, t, $"o_orderkey" <= lo)
      assert(cow.version.nonEmpty,
        "a scattered MOR delete on untouched files must commute with COW DML")
    } finally Snapshots.raceHook = () => ()
    val got = Snapshots.read(spark, t)
    assert(got.filter($"o_orderkey" <= lo).isEmpty, "COW delete applied")
    assert(got.filter($"o_orderkey" >= hi).isEmpty, "racing MOR delete not resurrected")
    assert(got.count() == orders.filter($"o_orderkey" > lo && $"o_orderkey" < hi).count())
  }

  test("constraints validate the WRITTEN bytes: the batch plan executes once, not twice") {
    val t = tbl()
    Snapshots.commit(spark, t, spark.range(0, 10).toDF("id"))
    Snapshots.addConstraint(spark, t, "nonneg", "id >= 0")
    val acc = spark.sparkContext.longAccumulator("graft_evals")
    val bump = udf { (x: Long) => acc.add(1); x }
    Snapshots.commit(spark, t,
      spark.range(10, 20).toDF("id").select(bump($"id").as("id")))
    assert(acc.value == 10L,
      s"the batch plan must execute exactly once (the write); ran ${acc.value / 10} times")
    // a violating batch still refuses whole — validated against the
    // staged files, aborted before the manifest, nothing visible
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, t, spark.range(-5, 5).toDF("id"))
    }
    assert(Snapshots.read(spark, t).count() == 20)
    assert(Snapshots.read(spark, t).where($"id" < 0).isEmpty)
  }

  test("stats-in-log: commit-time footer stats prune range reads, no false negatives") {
    val t = tbl()
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    Snapshots.setStatsColumns(spark, t, Seq("o_totalprice", "o_orderstatus"))
    Snapshots.commit(spark, t, base.repartitionByRange(8, $"o_totalprice"))
    val all = Snapshots.filesAt(spark, t, 0L)
    val keep = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(50000.0, 100000.0))
    assert(keep.nonEmpty && keep.size < all.size,
      s"price-clustered layout must prune: kept ${keep.size}/${all.size}")
    val got = Snapshots.read(spark, t, None, $"o_totalprice".between(50000.0, 100000.0))
    val want = base.filter($"o_totalprice".between(50000.0, 100000.0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // string stats prune too, on a status-clustered layout
    val t2 = tbl()
    Snapshots.setStatsColumns(spark, t2, Seq("o_orderstatus"))
    Snapshots.commit(spark, t2, base.repartitionByRange(3, $"o_orderstatus"))
    val all2 = Snapshots.filesAt(spark, t2, 0L)
    val keep2 = Snapshots.prunedFiles(spark, t2, $"o_orderstatus".between("P", "P"))
    assert(keep2.nonEmpty && keep2.size < all2.size)
    val gotP = Snapshots.read(spark, t2, None, $"o_orderstatus" === "P")
    assert(gotP.count() == base.filter($"o_orderstatus" === "P").count())
  }

  test("stats-in-log: pre-registration files never prune; COW rewrites refresh; all-NULL files prune") {
    val t = tbl()
    val base = orders // (o_orderkey, o_custkey, o_totalprice)
    // v0 lands BEFORE stats registration — it must survive every band
    Snapshots.commit(spark, t, base.filter($"o_totalprice" < 50000.0).repartition(1))
    Snapshots.setStatsColumns(spark, t, Seq("o_totalprice"))
    Snapshots.commit(spark, t,
      base.filter($"o_totalprice" >= 50000.0).repartitionByRange(4, $"o_totalprice"))
    val v0Files = Snapshots.filesAt(spark, t, 0L).toSet
    // a band far above v0's actual content: the stats-less v0 file is
    // KEPT (no stats — no false negatives), stats'd low files prune
    val keep = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(400000.0, 500000.0))
    assert(v0Files.subsetOf(keep.toSet), "stats-less files must never prune")
    assert(keep.size < Snapshots.filesAt(spark, t, 1L).size)
    // exact results through the pruned read regardless
    val got = Snapshots.read(spark, t, None, $"o_totalprice".between(400000.0, 500000.0))
    val want = base.filter($"o_totalprice".between(400000.0, 500000.0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // a COW rewrite's new files carry fresh stats: delete the low band,
    // then a low-band prune keeps nothing stats'd below the cut
    Snapshots.deleteWhere(spark, t, $"o_totalprice" < 80000.0)
    val got2 = Snapshots.read(spark, t, None, $"o_totalprice".between(0.0, 60000.0))
    assert(got2.isEmpty)
    // an all-NULL stats column prunes under any range
    val t3 = tbl()
    Snapshots.setStatsColumns(spark, t3, Seq("maybe"))
    Snapshots.commit(spark, t3,
      base.limit(100).withColumn("maybe", lit(null).cast("double")).repartition(1))
    Snapshots.commit(spark, t3,
      base.limit(100).withColumn("maybe", $"o_totalprice").repartition(1))
    val keep3 = Snapshots.prunedFiles(spark, t3, $"maybe".between(0.0, 1e9))
    assert(keep3.size == 1, s"all-NULL file must prune, got ${keep3.size}")
    // a TYPE-MISMATCHED bound never prunes (lexicographic compare of a
    // numeric bound against string stats could wrongly drop a file)
    val t4 = tbl()
    Snapshots.setStatsColumns(spark, t4, Seq("o_orderstatus"))
    Snapshots.commit(spark, t4,
      Tables.load(spark, sf0001, "orders")
        .select($"o_orderkey", $"o_orderstatus")
        .repartitionByRange(3, $"o_orderstatus"))
    val allFiles = Snapshots.filesAt(spark, t4, 0L).size
    assert(Snapshots.prunedFiles(spark, t4, $"o_orderstatus".between(0, 1)).size == allFiles,
      "numeric bounds against string stats must disable pruning, not misprune")
  }

  test("stats-in-log: DECIMAL columns are never recorded — unscaled footer stats must not plan deletes") {
    // parquet stores DECIMAL(4,2) as UNSCALED int32 (0.10 → 10); recording
    // that as a plain long and comparing against scaled bounds classified
    // a file with values 0.10..0.20 as fully inside [5.0, 25.0] — silent
    // data loss through deleteRange's metadata-only drop. Decimals are now
    // skipped at stats capture, so classification is conservative.
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("amt"))
    Snapshots.commit(spark, t, spark.range(0, 100)
      .select($"id", (($"id" % 11 + 10) / lit(100.0)).cast("decimal(4,2)").as("amt"))
      .repartition(1))
    val n = Snapshots.read(spark, t).count()
    // the band's UNSCALED shadow [10..20] sits inside [5, 25]; no actual
    // value (0.10..0.20) does — neither pruning nor deleteRange may act
    assert(Snapshots.prunedFiles(spark, t, $"amt".between(
      new java.math.BigDecimal("5.0"), new java.math.BigDecimal("25.0"))).size ==
      Snapshots.filesAt(spark, t, 0L).size,
      "decimal stats must not be recorded — pruning must stay conservative")
    val cow = Snapshots.deleteRange(spark, t, "amt",
      new java.math.BigDecimal("5.0"), new java.math.BigDecimal("25.0"))
    assert(cow.filesDropped == 0 && Snapshots.read(spark, t).count() == n,
      s"deleteRange on a decimal column deleted rows it must not: $cow")
  }

  test("stats-in-log: timestamp and date columns prune with native bounds") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("t", "d"))
    // TimestampType (UTC-adjusted micros) + DateType (epoch days)
    Snapshots.commit(spark, t, spark.range(0, 96)
      .select($"id",
        timestamp_seconds($"id" * 3600).as("t"),
        date_add(lit("2020-01-01").cast("date"), ($"id" * 4).cast("int")).as("d"))
      .repartitionByRange(4, $"id"))
    val all = Snapshots.filesAt(spark, t, 0L).size
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(10 * 3600))
    val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(20 * 3600))
    val keepT = Snapshots.prunedFiles(spark, t, $"t".between(lo, hi))
    assert(keepT.nonEmpty && keepT.size < all,
      s"timestamp bounds must prune a time-clustered layout: ${keepT.size}/$all")
    val gotT = Snapshots.read(spark, t, None, $"t".between(lit(lo), lit(hi)))
    assert(gotT.count() == 11) // hours 10..20 inclusive
    // Instant bounds take the same path
    assert(Snapshots.prunedFiles(spark, t, $"t".between(
      java.time.Instant.ofEpochSecond(10 * 3600),
      java.time.Instant.ofEpochSecond(20 * 3600))).toSet == keepT.toSet)
    // date bounds prune too
    val dLo = java.sql.Date.valueOf("2020-02-01")
    val dHi = java.time.LocalDate.parse("2020-03-01")
    val keepD = Snapshots.prunedFiles(spark, t, $"d".between(dLo, dHi))
    assert(keepD.nonEmpty && keepD.size < all)
    val gotD = Snapshots.read(spark, t, None,
      $"d".between(lit(dLo), lit(java.sql.Date.valueOf("2020-03-01"))))
    val wantD = Snapshots.read(spark, t)
      .where($"d".between(lit(dLo), lit(java.sql.Date.valueOf("2020-03-01"))))
    assert(gotD.count() == wantD.count() && gotD.count() > 0)
    // retention delete planned straight off the stats: whole early files
    // drop metadata-only under a timestamp range
    val cow = Snapshots.deleteRange(spark, t, "t",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0)),
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(23 * 3600)))
    assert(cow.filesDropped > 0, s"time-retention delete must drop files metadata-only: $cow")
    assert(Snapshots.read(spark, t).agg(min($"id")).head().getLong(0) == 24L)
  }

  test("stats-in-log: string pruning compares unsigned UTF-8 bytes, not UTF-16 code units") {
    // parquet's binary min/max are extrema under unsigned UTF-8 byte
    // order: for {U+FFFF, U+1F600} the byte-order max is U+1F600 (F0 9F
    // 98 80 > EF BF BF) while UTF-16 order says U+1F600's surrogate
    // (D83D) < U+FFFF — a UTF-16 compare of max against lo=U+FFFF would
    // prune the file that CONTAINS U+FFFF.
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("s"))
    val smiley = new String(Character.toChars(0x1F600))
    Snapshots.commit(spark, t,
      Seq("￿", smiley).toDF("s").repartition(1))
    val keep = Snapshots.prunedFiles(spark, t, $"s".between("￿", "￿"))
    assert(keep.size == 1, "file containing the bound value must survive pruning")
    assert(Snapshots.read(spark, t, None, $"s" === "￿").count() == 1)
  }

  test("read with a predicate equals read-then-filter, and prunes only files with no match") {
    // partitioned (p: four values + NULL), stats on every data column,
    // range-clustered on k (ts and d follow k), standing deletion vectors
    val t = tbl()
    Snapshots.setPartitionColumns(spark, t, Seq("p"))
    Snapshots.setStatsColumns(spark, t, Seq("k", "x", "ts", "d", "s"))
    Snapshots.commit(spark, t, spark.range(0, 4000).select(
      $"id".as("k"),
      when($"id" % 5 === 0, lit(null)).otherwise(concat(lit("p"), ($"id" % 4).cast("string"))).as("p"),
      ($"id" * 7 % 1000).cast("double").as("x"),
      timestamp_seconds($"id" * 60).as("ts"),
      date_add(lit("2020-01-01").cast("date"), ($"id" / 10).cast("int")).as("d"),
      $"id".cast("string").as("s"))
      .repartitionByRange(4, $"k"))
    Snapshots.deleteWhereMor(spark, t, $"k" % 7 === 0)
    val v = Snapshots.latestVersion(spark, t).get
    val all = Snapshots.filesAt(spark, t, v).size
    def uri(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    def kept(w: org.apache.spark.sql.Column) =
      Snapshots.prunedFiles(spark, t, w, Some(v)).map(uri).toSet
    def check(w: org.apache.spark.sql.Column): Set[String] = {
      val want = Snapshots.read(spark, t, Some(v)).where(w)
      val got = Snapshots.read(spark, t, Some(v), w)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"rows differ under $w")
      val holding = want.select(input_file_name()).distinct().as[String].collect().map(uri).toSet
      val k = kept(w)
      assert(holding.nonEmpty && holding.subsetOf(k), s"$w pruned a file holding a match")
      k
    }
    def ts(id: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(id * 60))
    val day = (n: Int) => java.sql.Date.valueOf(java.time.LocalDate.parse("2020-01-01").plusDays(n))
    // partition =, IS NULL and IN prune by path
    val p2 = check($"p" === "p2")
    assert(p2.size < all)
    assert(check($"p".isNull).size < all)
    assert(check($"p".isin("p0", "p2")).size < all)
    // one-sided and closed bands, a two-column box
    assert(check($"k" >= 3000L).size < all)
    val kBand = check($"k".between(1000L, 1500L))
    assert(kBand.size < all)
    val tsBand = check($"ts".between(lit(ts(1000)), lit(ts(1500))))
    val box = check($"k".between(1000L, 1500L) && $"ts".between(lit(ts(1200)), lit(ts(3000))))
    assert(box.size <= math.min(kBand.size, tsBand.size) && box.size < all)
    // timestamp and date bands
    assert(check($"ts" >= lit(ts(3000))).size < all)
    assert(check($"d".between(lit(day(100)), lit(day(150)))).size < all)
    // a numeric literal on a string column casts the column: no pruning
    assert(check($"s" >= 9).size == all)
    // a UDF conjunct gives no hint; the partition conjunct still prunes
    val even = udf((k: Long) => k % 2 == 0)
    assert(check(even($"k") && $"p" === "p2") == p2)
    assert(check(even($"k")).size == all)
    // an OR across columns gives no hint
    assert(check($"p" === "p0" || $"k" < 100L).size == all)
  }

  test("restore records the restored files' stats from the log, not their footers") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("o_orderkey"))
    Snapshots.commit(spark, t, orders.repartition(2))
    // registered after v0: re-reading v0's footers would record it too
    Snapshots.setStatsColumns(spark, t, Seq("o_orderkey", "o_custkey"))
    Snapshots.commit(spark, t, orders.limit(10))
    val v = Snapshots.restore(spark, t, 0L)
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def manifest(n: Long) = {
      val in = fsys.open(new org.apache.hadoop.fs.Path(t, f"_graft_log/v$n%011d.json"))
      try mapper.readTree(in) finally in.close()
    }
    assert(manifest(v).get("stats") == manifest(0L).get("stats"),
      "the restore must record v0's stats exactly")
    assert(manifest(v).get("schema") == manifest(0L).get("schema"))
    assert(Snapshots.read(spark, t).exceptAll(orders).isEmpty &&
      orders.exceptAll(Snapshots.read(spark, t)).isEmpty)
  }

  test("vacuum sweeps stranded .tmp-* staging files from the log dir") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(5))
    Snapshots.commit(spark, t, orders.limit(5))
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stranded = new org.apache.hadoop.fs.Path(t, "_graft_log/.tmp-deadbeef")
    val out = f.create(stranded, true); out.write("torn".getBytes); out.close()
    Snapshots.vacuum(spark, t, retainVersions = 1)
    assert(!f.exists(stranded), "vacuum must sweep stranded staging files")
    assert(Snapshots.read(spark, t).count() == 10)
  }

  test("compactSmall retires sidecars whose references were all compacted away; keeps the rest") {
    val t = tbl()
    (0 until 4).foreach(i => Snapshots.commit(spark, t,
      orders.filter($"o_orderkey" % 4 === i).repartition(1)))
    Snapshots.deleteWhereMor(spark, t, $"o_totalprice" < 30000.0)
    assert(Snapshots.dvStats(spark, t).dvFiles > 0)
    // every data file is small → all compact; the sidecar's references
    // are then 100% stale and it must leave the manifest with them
    Snapshots.compactSmall(spark, t,
      targetRowsPerFile = 1000000L, smallFileMaxBytes = 512L * 1024L)
    val after = Snapshots.dvStats(spark, t)
    assert(after.dvFiles == 0, s"fully-covered sidecars must retire: $after")
    val want = orders.filter(!($"o_totalprice" < 30000.0))
    val got = Snapshots.read(spark, t)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // a sidecar referencing a SURVIVING (non-compacted) file stays
    val t2 = tbl()
    Snapshots.commit(spark, t2, orders.repartition(1)) // the big file
    Snapshots.commit(spark, t2, orders.limit(10).repartition(1))
    Snapshots.commit(spark, t2, orders.limit(10).repartition(1))
    Snapshots.deleteWhereMor(spark, t2,
      $"o_totalprice" > 300000.0) // positions across big + small files
    val f2 = new org.apache.hadoop.fs.Path(t2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigLen = Snapshots.filesAt(spark, t2, 0L)
      .map(p => f2.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).max
    val cow = Snapshots.compactSmall(spark, t2,
      targetRowsPerFile = 1000000L, smallFileMaxBytes = bigLen) // small-only
    assert(cow.version.nonEmpty && cow.filesRewritten == 2)
    assert(Snapshots.dvStats(spark, t2).dvFiles == 1,
      "a sidecar still referencing the surviving big file must not retire")
    val want2 = orders.unionByName(orders.limit(10)).unionByName(orders.limit(10))
      .filter(!($"o_totalprice" > 300000.0))
    val got2 = Snapshots.read(spark, t2)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
  }

  test("snapshot state cache: immutable folds are cached; vacuum invalidates loudly") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(100))
    val v1 = Snapshots.commit(spark, t, orders.limit(50))
    val first = Snapshots.filesAt(spark, t, v1)
    // a warm fold is THE SAME object — no re-list, no re-parse
    assert(Snapshots.filesAt(spark, t, v1) eq first)
    // a new commit is a new cache entry, not a stale hit
    val v2 = Snapshots.commit(spark, t, orders.limit(25))
    assert(Snapshots.filesAt(spark, t, v2).size == first.size + 1)
    assert(Snapshots.filesAt(spark, t, v1) eq first)
    // vacuum truncates history — the cached v0/v1 folds must die with
    // it: time travel below the horizon fails loudly, never serves a
    // cached state whose files were reclaimed
    Snapshots.filesAt(spark, t, 0L) // warm the doomed entry
    Snapshots.vacuum(spark, t, retainVersions = 1)
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, t, Some(0L)).count()
    }
    assert(Snapshots.read(spark, t).count() == 175)
  }

  test("multi-column box pruning out-prunes either single band on a z-ordered layout") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("o_custkey", "o_totalprice"))
    Snapshots.commit(spark, t,
      Layout.zorderBy(orders, Seq("o_custkey", "o_totalprice"), numPartitions = 16))
    val all = Snapshots.filesAt(spark, t, 0L).size
    val custBand: (Any, Any) = (100L, 300L)
    val priceBand: (Any, Any) = (50000.0, 120000.0)
    val kCust = Snapshots.prunedFiles(spark, t,
      $"o_custkey".between(custBand._1, custBand._2)).size
    val kPrice = Snapshots.prunedFiles(spark, t,
      $"o_totalprice".between(priceBand._1, priceBand._2)).size
    val kBox = Snapshots.prunedFiles(spark, t,
      $"o_custkey".between(custBand._1, custBand._2) &&
        $"o_totalprice".between(priceBand._1, priceBand._2)).size
    assert(kBox <= math.min(kCust, kPrice))
    assert(kBox < all, s"z-order box must prune: $kBox/$all (cust $kCust, price $kPrice)")
    val got = Snapshots.read(spark, t, None,
      $"o_custkey".between(100L, 300L) && $"o_totalprice".between(50000.0, 120000.0))
    val want = orders.where($"o_custkey".between(100L, 300L) &&
      $"o_totalprice".between(50000.0, 120000.0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("partitioned snapshots: pruned reads scan one partition; metadata-only drops; dynamic overwrite") {
    val t = tbl()
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.commit(spark, t, base)
    val all = Snapshots.filesAt(spark, t, 0L)
    val urgent = Snapshots.partitionPrunedFiles(spark, t,
      Map("o_orderpriority" -> "1-URGENT"))
    assert(urgent.nonEmpty && urgent.size < all.size)
    assert(urgent.forall(_.contains("p__o_orderpriority=1-URGENT")))
    // the partition read PLANS exactly that partition's files
    val got = Snapshots.readPartitions(spark, t, Map("o_orderpriority" -> "1-URGENT"))
    assert(got.inputFiles.map(p => new org.apache.hadoop.fs.Path(p).toString).toSet ==
      urgent.map(p => new org.apache.hadoop.fs.Path(p).toString).toSet)
    val want = base.where($"o_orderpriority" === "1-URGENT")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // DROP PARTITION is metadata-only
    val cow = Snapshots.deletePartitions(spark, t, Map("o_orderpriority" -> "5-LOW"))
    assert(cow.filesDropped > 0 && cow.filesRewritten == 0)
    assert(Snapshots.read(spark, t).where($"o_orderpriority" === "5-LOW").isEmpty)
    // dynamic partition overwrite replaces exactly the touched partition
    val refreshed = base.where($"o_orderpriority" === "2-HIGH" &&
      $"o_totalprice" > 100000.0)
    val ow = Snapshots.overwritePartitions(spark, t, refreshed)
    assert(ow.version.nonEmpty && ow.filesRewritten > 0)
    val want2 = base.where($"o_orderpriority" =!= "5-LOW")
      .where($"o_orderpriority" =!= "2-HIGH" || $"o_totalprice" > 100000.0)
    val got2 = Snapshots.read(spark, t)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
    // time travel composes: v0 is still the full table
    assert(Snapshots.read(spark, t, Some(0L)).count() == base.count())
  }

  test("partition replaces conflict with a racing append INTO a touched partition; disjoint partitions commute") {
    val t = tbl()
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.commit(spark, t, base)
    val refreshed = base.where($"o_orderpriority" === "2-HIGH" &&
      $"o_totalprice" > 100000.0)
    // a racing append lands rows in the partition this overwrite
    // replaces: committing would keep BOTH the refresh's rows and the
    // racer's — the replace must fail instead (Delta's replaceWhere rule)
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.commit(spark, t,
        base.where($"o_orderpriority" === "2-HIGH").limit(5))
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.overwritePartitions(spark, t, refreshed)
      }
    } finally Snapshots.raceHook = () => ()
    // the racer's rows are live; the loser left no visible trace
    assert(Snapshots.read(spark, t).count() == base.count() + 5)
    // the retry reads the new state, so it replaces the racer's rows too
    val retry = Snapshots.overwritePartitions(spark, t, refreshed)
    assert(retry.version.nonEmpty)
    val want = base.where($"o_orderpriority" =!= "2-HIGH").unionByName(refreshed)
    val got = Snapshots.read(spark, t)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // an append to an UNTOUCHED partition commutes with DROP PARTITION
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.commit(spark, t,
        base.where($"o_orderpriority" === "3-MEDIUM").limit(3))
    }
    try {
      val cow = Snapshots.deletePartitions(spark, t,
        Map("o_orderpriority" -> "5-LOW"))
      assert(cow.version.nonEmpty, "disjoint append must not block the drop")
    } finally Snapshots.raceHook = () => ()
    assert(Snapshots.read(spark, t)
      .where($"o_orderpriority" === "5-LOW").isEmpty)
    // but a racing append INTO the dropped partition conflicts — the
    // drop's removed set no longer covers the partition
    Snapshots.raceHook = () => {
      Snapshots.raceHook = () => ()
      Snapshots.commit(spark, t,
        base.where($"o_orderpriority" === "1-URGENT").limit(2))
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.deletePartitions(spark, t, Map("o_orderpriority" -> "1-URGENT"))
      }
    } finally Snapshots.raceHook = () => ()
    assert(Snapshots.read(spark, t)
      .where($"o_orderpriority" === "1-URGENT").count() ==
      base.where($"o_orderpriority" === "1-URGENT").count() + 2)
  }

  test("partitioned snapshots compose with deletion vectors; vacuum sweeps nested partition dirs") {
    val t = tbl()
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.commit(spark, t, base)
    Snapshots.deleteWhereMor(spark, t, $"o_orderkey" % 10 === 0)
    val got = Snapshots.readPartitions(spark, t, Map("o_orderpriority" -> "3-MEDIUM"))
    val want = base.where($"o_orderpriority" === "3-MEDIUM" &&
      !($"o_orderkey" % 10 === 0))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // dropping a partition then vacuuming reclaims its nested files
    Snapshots.deletePartitions(spark, t, Map("o_orderpriority" -> "5-LOW"))
    val reclaimed = Snapshots.vacuum(spark, t, retainVersions = 1)
    assert(reclaimed > 0, "vacuum must reclaim the dropped partition's nested files")
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lowDirs = f.globStatus(
      new org.apache.hadoop.fs.Path(t, "data/*/p__o_orderpriority=5-LOW"))
    assert(lowDirs == null || lowDirs.isEmpty,
      "the dropped partition's directories must be swept")
    val got2 = Snapshots.read(spark, t)
    val want2 = want.unionByName(base.where($"o_orderpriority".isin(
      "1-URGENT", "2-HIGH", "4-NOT SPECIFIED") && !($"o_orderkey" % 10 === 0)))
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
  }

  test("partition values with special characters and NULL round-trip exactly") {
    val t = tbl()
    Snapshots.setPartitionColumns(spark, t, Seq("k"))
    Snapshots.commit(spark, t,
      Seq((Option("a/b=c %7"), 1), (Option.empty[String], 2), (Option("plain"), 3))
        .toDF("k", "v"))
    assert(Snapshots.readPartitions(spark, t, Map("k" -> "a/b=c %7"))
      .select($"v").as[Int].collect().toSeq == Seq(1))
    assert(Snapshots.readPartitions(spark, t, Map("k" -> null))
      .select($"v").as[Int].collect().toSeq == Seq(2))
    Snapshots.deletePartitions(spark, t, Map("k" -> "plain"))
    assert(Snapshots.read(spark, t).select($"v").as[Int].collect().toSet == Set(1, 2))
  }

  test("streamChanges consumes a PARTITIONED append-only table (nested dirs listed, no inference clash)") {
    val t = tbl()
    Snapshots.setPartitionColumns(spark, t, Seq("p"))
    Snapshots.setProperty(spark, t, "streaming", "append_only")
    Snapshots.commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "p"))
    val q = Snapshots.streamChanges(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL("id LONG, p STRING"))
      .writeStream.format("memory").queryName("snap_part_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Snapshots.commit(spark, t, Seq((3L, "a")).toDF("id", "p"))
      q.processAllAvailable()
      val got = spark.table("snap_part_stream")
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "a")))
    } finally q.stop()
  }

  test("default partition holds NULL and empty string as ONE unit; partition filters are loud") {
    val t = tbl()
    Snapshots.setPartitionColumns(spark, t, Seq("k"))
    Snapshots.commit(spark, t,
      Seq((Option.empty[String], 1), (Option(""), 2), (Option("x"), 3)).toDF("k", "v"))
    // Spark writes the SAME hive sentinel for null and "" — the default
    // partition is addressed as one unit (deleting "the null partition"
    // must not silently take "" rows the caller never asked about
    // without also SERVING them under the same address)
    assert(Snapshots.readPartitions(spark, t, Map("k" -> null))
      .select($"v").as[Int].collect().toSet == Set(1, 2))
    assert(Snapshots.readPartitions(spark, t, Map("k" -> ""))
      .select($"v").as[Int].collect().toSet == Set(1, 2))
    val cow = Snapshots.deletePartitions(spark, t, Map("k" -> null))
    assert(cow.filesDropped > 0)
    assert(Snapshots.read(spark, t).select($"v").as[Int].collect().toSeq == Seq(3))
    // a typo / data-column filter key is loud, never silently empty
    intercept[IllegalArgumentException] {
      Snapshots.readPartitions(spark, t, Map("v" -> 1))
    }
    // a filter value type whose toString diverges from the path
    // rendering is refused, never silently unmatched
    intercept[IllegalArgumentException] {
      Snapshots.partitionPrunedFiles(spark, t,
        Map("k" -> new java.sql.Timestamp(0L)))
    }
  }

  test("pre-1970 fractional-second timestamp bounds floor, not truncate") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("ts"))
    // one file at -0.5 s, one at +0.2 s
    Snapshots.commit(spark, t,
      spark.range(1).select(timestamp_micros(lit(-500000L)).as("ts")).repartition(1))
    Snapshots.commit(spark, t,
      spark.range(1).select(timestamp_micros(lit(200000L)).as("ts")).repartition(1))
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(-600L))
    val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(-400L))
    val keep = Snapshots.prunedFiles(spark, t, $"ts".between(lo, hi))
    // truncation-toward-zero would shift the band a full second and
    // prune the -0.5 s file (false negative) while keeping +0.2 s
    assert(keep.size == 1, s"kept ${keep.size}")
    assert(Snapshots.read(spark, t, None, $"ts".between(lit(lo), lit(hi))).count() == 1)
  }

  test("null partition on a NON-STRING partition column reads under ANSI; partitioned constraint abort sweeps the whole commit dir") {
    val t = tbl()
    Snapshots.setPartitionColumns(spark, t, Seq("k"))
    Snapshots.commit(spark, t,
      Seq((Option(1), 10), (Option.empty[Int], 20)).toDF("k", "v"))
    // the ""-arm of the default-partition predicate must not cast ''
    // to int (ANSI would throw at planning)
    assert(Snapshots.readPartitions(spark, t, Map("k" -> null))
      .select($"v").as[Int].collect().toSeq == Seq(20))
    assert(Snapshots.readPartitions(spark, t, Map("k" -> 1))
      .select($"v").as[Int].collect().toSeq == Seq(10))
    // a violating batch on a PARTITIONED table aborts the whole staged
    // commit dir — not just the first partition subdir
    Snapshots.addConstraint(spark, t, "v_pos", "v > 0")
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = f.listStatus(new org.apache.hadoop.fs.Path(t, "data")).length
    intercept[IllegalArgumentException] {
      Snapshots.commit(spark, t,
        Seq((Option(2), -1), (Option(3), 5)).toDF("k", "v"))
    }
    val after = f.listStatus(new org.apache.hadoop.fs.Path(t, "data")).length
    assert(after == before, s"staged commit dir must be swept whole: $before -> $after")
    assert(Snapshots.read(spark, t).count() == 2)
  }

  test("partitioning is a create-time property; drops demand registered columns") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(10))
    intercept[IllegalArgumentException] {
      Snapshots.setPartitionColumns(spark, t, Seq("o_custkey"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.deletePartitions(spark, t, Map("o_custkey" -> 1L))
    }
  }

  test("countAt answers COUNT(*) metadata-only across the whole lifecycle") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("o_totalprice"))
    Snapshots.commit(spark, t, orders.repartition(4))
    val n0 = orders.count()
    assert(Snapshots.countAt(spark, t).contains(n0))
    // MOR delete: DV rows subtract (one sidecar-scale aggregation)
    Snapshots.deleteWhereMor(spark, t, $"o_totalprice" < 50000.0)
    assert(Snapshots.countAt(spark, t).contains(Snapshots.read(spark, t).count()))
    // purge folds DVs into fresh files with fresh counts
    Snapshots.purgeDeletes(spark, t)
    assert(Snapshots.countAt(spark, t).contains(Snapshots.read(spark, t).count()))
    // COW delete rewrites with fresh counts; time travel keeps old ones
    Snapshots.deleteWhere(spark, t, $"o_totalprice" > 300000.0)
    val live = Snapshots.read(spark, t).count()
    assert(Snapshots.countAt(spark, t).contains(live))
    assert(Snapshots.countAt(spark, t, Some(0L)).contains(n0))
    // survives the vacuum horizon fold (stats embedded in the rewrite)
    Snapshots.vacuum(spark, t, retainVersions = 1)
    assert(Snapshots.countAt(spark, t).contains(live))
    // row counts are ALWAYS recorded (r11, the Delta numRecords
    // behavior): a commit made before any stats-column registration
    // still answers countAt
    val t2 = tbl()
    Snapshots.commit(spark, t2, orders.limit(10))
    Snapshots.setStatsColumns(spark, t2, Seq("o_totalprice"))
    Snapshots.commit(spark, t2, orders.limit(5))
    assert(Snapshots.countAt(spark, t2).contains(15L))
    // a LEGACY manifest with no stats node (pre-row-count log) still
    // degrades to None, never to a wrong number: strip v0's stats
    val f2 = new org.apache.hadoop.fs.Path(t2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0p = new org.apache.hadoop.fs.Path(t2, "_graft_log/v00000000000.json")
    val node = {
      val in = f2.open(v0p)
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    }
    node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("stats")
    val out = f2.create(v0p, true)
    out.write(node.toString.getBytes("UTF-8")); out.close()
    Snapshots.invalidateCaches(t2)
    assert(Snapshots.countAt(spark, t2).isEmpty)
    // the internal key namespace is reserved
    intercept[IllegalArgumentException] {
      Snapshots.setStatsColumns(spark, tbl(), Seq("__rowCount"))
    }
  }

  test("stats survive partitioned writes that reuse file names across partition dirs") {
    // one write job emits part-0000N-<uuid> under EVERY partition dir it
    // touches — identical file NAMES. Stats are keyed by full path, so
    // per-file row counts and min/max must stay per-file, not
    // last-name-wins (the pre-r11 bug: countAt under-counted and a
    // narrowed envelope could wrongly prune)
    val t = tbl()
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.setStatsColumns(spark, t, Seq("o_orderkey"))
    Snapshots.commit(spark, t, base)
    assert(Snapshots.countAt(spark, t).contains(base.count()),
      "metadata count must survive name collisions across partition dirs")
    // stats pruning keeps exactly the right rows (conservative superset
    // is re-filtered by the caller; here the FULL key range must survive)
    val lo = base.agg(min($"o_orderkey")).head.getLong(0)
    val pruned = Snapshots.read(spark, t, None, $"o_orderkey" === lo)
    assert(pruned.count() == 1)
  }

  test("legacy name-keyed stats on a partitioned table: exact COUNT(*), no file over-pruned") {
    // manifests written before stats were keyed by path keyed them by
    // part NAME, and a partitioned write reuses one name in every
    // partition dir — those entries must read as "no stats", never as
    // another partition's row count or envelope
    val t = tbl()
    val base = spark.range(0, 2100).where($"id" < 1500 || $"id" >= 2000)
      .select($"id".as("k"), ($"id" / 1000).cast("int").as("p"))
    Snapshots.setPartitionColumns(spark, t, Seq("p"))
    Snapshots.setStatsColumns(spark, t, Seq("k"))
    Snapshots.commit(spark, t, base.coalesce(1)) // one task: part-00000-… in each dir
    val files = Snapshots.filesAt(spark, t, 0L)
    assert(files.size == 3 &&
      files.map(new org.apache.hadoop.fs.Path(_).getName).distinct.size == 1)
    // re-key v0's stats by file name, last write winning, as the old writer did
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = new org.apache.hadoop.fs.Path(t, "_graft_log/v00000000000.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = { val in = fsys.open(v0); try mapper.readTree(in) finally in.close() }
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val byName = mapper.createObjectNode()
    node.get("stats").properties().forEach(e =>
      byName.set[com.fasterxml.jackson.databind.JsonNode](
        new org.apache.hadoop.fs.Path(e.getKey).getName, e.getValue))
    node.set[com.fasterxml.jackson.databind.JsonNode]("stats", byName)
    val out = fsys.create(v0, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    Snapshots.invalidateCaches(t)
    assert(Snapshots.countAt(spark, t).forall(_ == base.count()),
      s"metadata COUNT(*) ${Snapshots.countAt(spark, t)} != ${base.count()}")
    // each partition's own key range must keep its file
    Seq((0L, 10L), (1000L, 1010L), (2000L, 2010L)).foreach { case (lo, hi) =>
      val kept = Snapshots.read(spark, t, None, $"k".between(lo, hi)).count()
      assert(kept == hi - lo + 1, s"band [$lo, $hi] kept $kept rows")
    }
  }

  test("stats-in-log fold resolves through the checkpoint sidecar") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("o_totalprice"))
    Snapshots.commit(spark, t,
      orders.filter($"o_totalprice" < 100000.0).repartitionByRange(2, $"o_totalprice"))
    Snapshots.commit(spark, t,
      orders.filter($"o_totalprice" >= 100000.0).repartitionByRange(2, $"o_totalprice"))
    val before = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(0.0, 50000.0)).toSet
    assert(before.size < Snapshots.read(spark, t).inputFiles.length)
    // the checkpoint embeds the folded stats: pruning after it is
    // identical, resolved from the sidecar + newer manifests only
    Snapshots.checkpoint(spark, t)
    assert(Snapshots.prunedFiles(spark, t, $"o_totalprice".between(0.0, 50000.0)).toSet == before)
    // a post-checkpoint commit folds on top of the sidecar base
    Snapshots.commit(spark, t,
      orders.limit(20).withColumn("o_totalprice", lit(9e8)).repartition(1))
    val hi = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(8e8, 1e9))
    assert(hi.size == 1, s"post-checkpoint commit must prune-in alone, kept ${hi.size}")
    val low = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(0.0, 50000.0)).toSet
    assert(low == before, "the new high-band file must not join a low-band read")
  }

  test("deleteRange classifies from stats-in-log: same footprint as the zone-map path, zero scans") {
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    def build(stats: Boolean): String = {
      val t = tbl()
      if (stats) Snapshots.setStatsColumns(spark, t, Seq("o_orderkey"))
      Snapshots.commit(spark, t, base.repartitionByRange(8, $"o_orderkey"))
      t
    }
    val q = base.stat.approxQuantile("o_orderkey", Array(0.25, 0.75), 0.0)
    val lo = q(0).toLong; val hi = q(1).toLong
    val ts = build(stats = true); val tz = build(stats = false)
    val cs = Snapshots.deleteRange(spark, ts, "o_orderkey", lo, hi)
    val cz = Snapshots.deleteRange(spark, tz, "o_orderkey", lo, hi)
    // equivalent classification: interior files drop metadata-only,
    // boundary files rewrite, whichever source classified them. The two
    // tables are separate repartitionByRange WRITES, whose sampled
    // boundaries can jitter by one file — allow that, not more.
    assert(cs.filesDropped >= 1 && cz.filesDropped >= 1,
      s"stats path dropped ${cs.filesDropped}, zone-map path ${cz.filesDropped}")
    assert(math.abs(cs.filesDropped - cz.filesDropped) <= 1 &&
      math.abs(cs.filesRewritten - cz.filesRewritten) <= 1,
      s"stats ${cs.filesDropped}/${cs.filesRewritten} vs " +
        s"zone-map ${cz.filesDropped}/${cz.filesRewritten}")
    val want = base.filter(!($"o_orderkey" >= lo && $"o_orderkey" <= hi))
    Seq(ts, tz).foreach { t =>
      val got = Snapshots.read(spark, t)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("stats-in-log survive the vacuum horizon fold and shallow clones") {
    val t = tbl()
    Snapshots.setStatsColumns(spark, t, Seq("o_totalprice"))
    Snapshots.commit(spark, t,
      orders.filter($"o_orderkey" % 2 === 0).repartitionByRange(4, $"o_totalprice"))
    Snapshots.commit(spark, t,
      orders.filter($"o_orderkey" % 2 =!= 0).repartitionByRange(4, $"o_totalprice"))
    val before = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(50000.0, 80000.0))
    val total = Snapshots.read(spark, t).count()
    // clone first (parent history intact), then vacuum the parent
    val dst = tbl()
    Snapshots.cloneShallow(spark, t, dst)
    Snapshots.vacuum(spark, t, retainVersions = 1)
    val afterVacuum = Snapshots.prunedFiles(spark, t, $"o_totalprice".between(50000.0, 80000.0))
    assert(afterVacuum.toSet == before.toSet,
      "the folded horizon must carry the dropped manifests' stats")
    val afterClone = Snapshots.prunedFiles(spark, dst, $"o_totalprice".between(50000.0, 80000.0))
    assert(afterClone.toSet == before.toSet,
      "the clone manifest must carry the parent's folded stats")
    // and the branch keeps collecting stats for NEW commits
    Snapshots.commit(spark, dst,
      orders.limit(50).withColumn("o_totalprice", lit(9e8)).repartition(1))
    val hi = Snapshots.prunedFiles(spark, dst, $"o_totalprice".between(8e8, 1e9))
    assert(hi.size == 1, s"branch commit must carry fresh stats, kept ${hi.size}")
    assert(Snapshots.read(spark, t).count() == total)
  }

  test("readWithVersion: broadcast-join provenance path == literal-map path") {
    val t = tbl()
    Snapshots.commit(spark, t, orders.limit(100).repartition(2))
    Snapshots.commit(spark, t, orders.limit(40).repartition(2))
    Snapshots.deleteWhereMor(spark, t,
      $"o_orderkey" === orders.agg(min($"o_orderkey")).head.getLong(0))
    val viaLiteral = Snapshots.readWithVersion(spark, t)
    val saved = Snapshots.provenanceLiteralMax
    Snapshots.provenanceLiteralMax = 0 // force the large-table join path
    try {
      val viaJoin = Snapshots.readWithVersion(spark, t)
        .select(viaLiteral.columns.toSeq.map(col): _*)
      assert(viaJoin.exceptAll(viaLiteral).isEmpty &&
        viaLiteral.exceptAll(viaJoin).isEmpty,
        "provenance via broadcast join must match the literal map exactly")
    } finally Snapshots.provenanceLiteralMax = saved
  }

  test("_latest pointer: O(1) resolution, stale/missing/corrupt all heal to the log") {
    val t = tbl()
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(t, "_graft_log/_latest")
    def writePtr(s: String): Unit = {
      val out = f.create(ptr, true); out.write(s.getBytes("UTF-8")); out.close()
    }
    (0 until 3).foreach(_ => Snapshots.commit(spark, t, orders.limit(5)))
    // commit maintains the pointer
    assert(f.exists(ptr), "commit must write the _latest pointer")
    assert(Snapshots.latestVersion(spark, t).contains(2L))
    // stale-behind pointer (writer crashed between manifest and pointer):
    // the forward probe still finds the real latest
    writePtr("0")
    assert(Snapshots.latestVersion(spark, t).contains(2L),
      "stale pointer must heal forward to the newest manifest")
    // pointer ahead of any manifest (manual surgery): falls back to the log
    writePtr("99")
    assert(Snapshots.latestVersion(spark, t).contains(2L),
      "dangling pointer must fall back to the listing")
    // corrupt pointer: falls back to the listing
    writePtr("not-a-version")
    assert(Snapshots.latestVersion(spark, t).contains(2L))
    // missing pointer: falls back to the listing (pre-pointer logs)
    f.delete(ptr, false)
    assert(Snapshots.latestVersion(spark, t).contains(2L))
    // and the next commit restores it
    Snapshots.commit(spark, t, orders.limit(5))
    assert(f.exists(ptr) && Snapshots.latestVersion(spark, t).contains(3L))
    // reads resolve identically through every state above
    assert(Snapshots.read(spark, t).count() == 20)
  }
}

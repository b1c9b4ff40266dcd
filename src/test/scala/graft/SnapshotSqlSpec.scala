package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Snapshots

/** SQL surface over snapshot tables: the `graft-snapshot` DataSourceV2
  * provider (path-based, versionAsOf/timestampAsOf options) and the
  * SnapshotCatalog (native `VERSION AS OF` / `TIMESTAMP AS OF` through
  * spark.sql). The provider must read EXACTLY what the Scala API reads
  * — deletion vectors subtracted, version pinned. */
class SnapshotSqlSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def orders = Tables.load(spark, sf0001, "orders")
    .select($"o_orderkey", $"o_custkey", $"o_totalprice")

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_sql_").toString

  private def buildLifecycle(t: String): Unit = {
    Snapshots.commit(spark, t, orders.repartitionByRange(4, $"o_orderkey"))
    Snapshots.deleteWhereMor(spark, t, $"o_totalprice" < 50000.0)
    val src = orders.filter($"o_orderkey" % 100 === 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1.0)
    Snapshots.mergeIntoMor(spark, t, src, Seq("o_orderkey"))
  }

  test("provider read == Scala-API read, deletion vectors subtracted; versions pin") {
    val t = freshTable()
    buildLifecycle(t)
    val api = Snapshots.read(spark, t)
    val dsv2 = spark.read.format("graft-snapshot").load(t)
    assert(dsv2.schema == api.schema)
    assert(dsv2.exceptAll(api).isEmpty && api.exceptAll(dsv2).isEmpty)
    // DVs are live in this state — the provider must subtract them:
    // every non-merged low-price row was deletion-vectored away (the
    // merge legitimately re-inserts %100 keys at price+1)
    assert(dsv2.where($"o_totalprice" < 50000.0 &&
      $"o_orderkey" % 100 =!= 0).isEmpty)
    // version pinning
    val v0 = spark.read.format("graft-snapshot").option("versionAsOf", "0").load(t)
    val apiV0 = Snapshots.read(spark, t, Some(0L))
    assert(v0.exceptAll(apiV0).isEmpty && apiV0.exceptAll(v0).isEmpty)
    // a pinned table is a consistent snapshot: a commit AFTER load
    // does not leak into the pinned frame
    val latestPinned = spark.read.format("graft-snapshot").load(t)
    val before = latestPinned.count()
    Snapshots.commit(spark, t, orders.limit(7))
    assert(latestPinned.count() == before)
    assert(spark.read.format("graft-snapshot").load(t).count() == before + 7)
  }

  test("provider timestampAsOf resolves the newest commit at-or-before") {
    val t = freshTable()
    Snapshots.commit(spark, t, orders.limit(10))
    Snapshots.commit(spark, t, orders.limit(5))
    val ts0 = Snapshots.history(spark, t).where($"version" === 0)
      .select($"ts").as[Long].head()
    val got = spark.read.format("graft-snapshot")
      .option("timestampAsOf", ts0.toString).load(t)
    assert(got.count() == 10)
    intercept[Exception] {
      spark.read.format("graft-snapshot")
        .option("timestampAsOf", (ts0 - 10000).toString).load(t).count()
    }
  }

  test("SQL catalog: plain reads, VERSION AS OF, TIMESTAMP AS OF through spark.sql") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat_").toString
    val t = s"$root/facts"
    buildLifecycle(t)
    spark.conf.set("spark.sql.catalog.gsnap", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap.root", root)
    val api = Snapshots.read(spark, t)
    val viaSql = spark.sql("SELECT * FROM gsnap.facts")
    assert(viaSql.exceptAll(api).isEmpty && api.exceptAll(viaSql).isEmpty)
    val v0 = spark.sql("SELECT * FROM gsnap.facts VERSION AS OF 0")
    val apiV0 = Snapshots.read(spark, t, Some(0L))
    assert(v0.exceptAll(apiV0).isEmpty && apiV0.exceptAll(v0).isEmpty)
    // TIMESTAMP AS OF: pin the instant of v1's commit — resolves v1
    val ts1 = Snapshots.history(spark, t).where($"version" === 1)
      .select($"ts").as[Long].head()
    val lit1 = java.time.Instant.ofEpochMilli(ts1).toString
    val asOf = spark.sql(s"SELECT * FROM gsnap.facts TIMESTAMP AS OF '$lit1'")
    val apiV1 = Snapshots.read(spark, t, Some(1L))
    assert(asOf.exceptAll(apiV1).isEmpty && apiV1.exceptAll(asOf).isEmpty)
    // predicates and projections flow through (and the residual filter
    // guarantees exactness regardless of inner pushdown)
    val narrow = spark.sql(
      "SELECT o_orderkey FROM gsnap.facts WHERE o_orderkey % 100 = 0")
    assert(narrow.schema.fieldNames.toSeq == Seq("o_orderkey"))
    assert(narrow.count() == api.where($"o_orderkey" % 100 === 0).count())
    // aggregates over the provider
    val n = spark.sql("SELECT COUNT(*) AS n FROM gsnap.facts").as[Long].head()
    assert(n == api.count())
  }

  test("catalog lists snapshot tables and refuses schema-mutating DDL") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat2_").toString
    Snapshots.commit(spark, s"$root/t1", orders.limit(3))
    Snapshots.commit(spark, s"$root/t2", orders.limit(4))
    spark.conf.set("spark.sql.catalog.gsnap2", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap2.root", root)
    val listed = spark.sql("SHOW TABLES IN gsnap2").select("tableName")
      .as[String].collect().toSet
    assert(listed == Set("t1", "t2"))
    intercept[Exception] {
      spark.sql("ALTER TABLE gsnap2.t1 ADD COLUMN bonus DOUBLE")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gsnap2.t1 RENAME TO t1b")
    }
    assert(Snapshots.read(spark, s"$root/t1").count() == 3)
  }

  test("catalog reads compose with partitioned layout, partition drops, and DVs") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat3_").toString
    val t = s"$root/part_facts"
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.commit(spark, t, base)
    Snapshots.deletePartitions(spark, t, Map("o_orderpriority" -> "5-LOW"))
    Snapshots.deleteWhereMor(spark, t, $"o_orderkey" % 7 === 0)
    spark.conf.set("spark.sql.catalog.gsnap3", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap3.root", root)
    val api = Snapshots.read(spark, t)
    val viaSql = spark.sql(
      "SELECT * FROM gsnap3.part_facts WHERE o_orderpriority = '1-URGENT'")
    val want = api.where($"o_orderpriority" === "1-URGENT")
    assert(viaSql.exceptAll(want).isEmpty && want.exceptAll(viaSql).isEmpty)
    assert(spark.sql("SELECT COUNT(*) AS n FROM gsnap3.part_facts")
      .as[Long].head() == api.count())
  }

  test("SQL INSERT INTO appends through the manifest; INSERT OVERWRITE replaces; constraints bind") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat4_").toString
    val t = s"$root/ins_tbl"
    Snapshots.commit(spark, t, orders.limit(10))
    Snapshots.addConstraint(spark, t, "price_pos", "o_totalprice > 0")
    spark.conf.set("spark.sql.catalog.gsnap4", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap4.root", root)

    spark.sql("INSERT INTO gsnap4.ins_tbl VALUES (900001, 42, 123.45)")
    assert(Snapshots.read(spark, t).count() == 11)
    assert(Snapshots.read(spark, t)
      .where($"o_orderkey" === 900001L).count() == 1)
    // the SQL write is a first-class manifest commit: history advances
    val acts = Snapshots.history(spark, t).orderBy($"version")
      .select($"action").as[String].collect().toSeq
    assert(acts == Seq("append", "append"), acts.toString)

    // a violating INSERT aborts BEFORE the manifest — nothing lands
    intercept[Exception] {
      spark.sql("INSERT INTO gsnap4.ins_tbl VALUES (900002, 7, -1.0)")
    }
    assert(Snapshots.read(spark, t).count() == 11,
      "a constraint-violating SQL insert must not commit")

    spark.sql("INSERT OVERWRITE gsnap4.ins_tbl VALUES (1, 1, 10.0), (2, 2, 20.0)")
    assert(Snapshots.read(spark, t).select($"o_orderkey").as[Long]
      .collect().toSeq.sorted == Seq(1L, 2L))
    // a pinned (time-traveled) handle must refuse writes
    val e = intercept[Exception] {
      orders.limit(1).write.format("graft-snapshot")
        .option("versionAsOf", "0").mode("append").save(t)
    }
    assert(e.getMessage.contains("not writable"), e.getMessage)
  }

  test("SQL inserts compose with the partitioned layout; dynamic overwrite refuses loudly at analysis") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat5_").toString
    val t = s"$root/dyn_tbl"
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.commit(spark, t, base)
    spark.conf.set("spark.sql.catalog.gsnap5", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap5.root", root)
    // an INSERT INTO a partitioned table lands hive-partitioned: the
    // new rows are manifest-prunable like any other commit
    spark.sql(
      "INSERT INTO gsnap5.dyn_tbl VALUES (900001, '1-URGENT', 10.0)")
    val pruned = Snapshots.partitionPrunedFiles(spark, t,
      Map("o_orderpriority" -> "1-URGENT"))
    assert(pruned.exists(_.contains("p__o_orderpriority=1-URGENT")))
    assert(Snapshots.readPartitions(spark, t,
      Map("o_orderpriority" -> "1-URGENT"))
      .where($"o_orderkey" === 900001L).count() == 1)
    // V1 writes cannot plan OverwritePartitionsDynamic — the analyzer
    // must refuse (the Scala API, overwritePartitions, is the path)
    withSQLConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(
          "INSERT OVERWRITE gsnap5.dyn_tbl VALUES (900002, '1-URGENT', 11.0)")
      }
      assert(e.getMessage.contains("dynamic overwrite"), e.getMessage)
    }
  }

  test("path-based df.write appends and overwrites an existing snapshot table") {
    val t = freshTable()
    // creation is the Snapshots API (the provider writes to EXISTING
    // tables — consistent with DDL staying out of the SQL surface)
    Snapshots.commit(spark, t, orders.limit(20))
    orders.limit(5).write.format("graft-snapshot").mode("append").save(t)
    assert(Snapshots.read(spark, t).count() == 25)
    orders.limit(3).write.format("graft-snapshot").mode("overwrite").save(t)
    assert(Snapshots.read(spark, t).count() == 3)
    assert(Snapshots.read(spark, t, Some(0L)).count() == 20,
      "history stays time-travelable under SQL-surface writes")
  }

  test("CREATE TABLE declares schema+partitions+properties; CTAS lands as a commit; DROP removes and un-poisons caches") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat6_").toString
    spark.conf.set("spark.sql.catalog.gsnap6", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap6.root", root)

    spark.sql("CREATE TABLE gsnap6.fresh (k BIGINT, p STRING, v DOUBLE) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('custom.note'='kept')")
    // loadable BEFORE any commit: empty relation of the declared shape
    val empty = spark.sql("SELECT * FROM gsnap6.fresh")
    assert(empty.columns.toSeq == Seq("k", "p", "v") && empty.count() == 0)
    val t = s"$root/fresh"
    assert(Snapshots.properties(spark, t).get("custom.note").contains("kept"))

    // the first INSERT lands hive-partitioned under the DECLARED layout
    spark.sql("INSERT INTO gsnap6.fresh VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    assert(spark.sql("SELECT k FROM gsnap6.fresh WHERE p = 'a'")
      .as[Long].collect().toSeq == Seq(1L))
    val pruned = Snapshots.partitionPrunedFiles(spark, t, Map("p" -> "a"))
    assert(pruned.nonEmpty && pruned.forall(_.contains("p__p=a")),
      s"the CREATE-declared partition column must drive the layout: $pruned")

    // CTAS = createTable + append through the same write path
    spark.sql("CREATE TABLE gsnap6.ctas AS SELECT * FROM gsnap6.fresh WHERE k = 1")
    assert(spark.sql("SELECT COUNT(*) AS n FROM gsnap6.ctas").as[Long].head() == 1L)

    // DROP deletes the table; a re-CREATE at the same path with a
    // DIFFERENT partition layout must not see the memoized old one
    spark.sql("DROP TABLE gsnap6.ctas")
    intercept[Exception] { spark.sql("SELECT * FROM gsnap6.ctas").collect() }
    spark.sql("CREATE TABLE gsnap6.ctas (a BIGINT)")
    spark.sql("INSERT INTO gsnap6.ctas VALUES (7)")
    assert(spark.sql("SELECT a FROM gsnap6.ctas").as[Long].collect().toSeq == Seq(7L))
    assert(graft.operators.Snapshots.partitionColumnsOf(spark, s"$root/ctas").isEmpty,
      "re-created table must not inherit the dropped table's partition columns")

    // non-identity partition transforms are refused loudly
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gsnap6.bucketed (k BIGINT) PARTITIONED BY (bucket(4, k))")
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
  }

  test("a stream attaches to an empty CREATE'd table and delivers the first commit") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat7_").toString
    spark.conf.set("spark.sql.catalog.gsnap7", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap7.root", root)
    spark.sql("CREATE TABLE gsnap7.feed (k BIGINT, v DOUBLE)")
    val t = s"$root/feed"
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graft-snapshot").load(t)
      .writeStream.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ss_ckpt_").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got += df.count() }: Unit
      }.start()
    q.processAllAvailable()
    assert(got.sum == 0, s"nothing to deliver before the first commit: $got")
    spark.sql("INSERT INTO gsnap7.feed VALUES (1, 1.0), (2, 2.0)")
    q.processAllAvailable(); q.stop()
    assert(got.sum == 2, s"the first commit must stream through: $got")
  }

  test("SQL DELETE FROM lands merge-on-read (CDF-consumable); delete.mode=cow rewrites; subquery conditions refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat8_").toString
    val t = s"$root/del_tbl"
    Snapshots.commit(spark, t, orders.limit(300))
    spark.conf.set("spark.sql.catalog.gsnap8", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap8.root", root)

    val dead = Snapshots.read(spark, t).where($"o_totalprice" < 60000.0).count()
    assert(dead > 0)
    spark.sql("DELETE FROM gsnap8.del_tbl WHERE o_totalprice < 60000.0")
    assert(Snapshots.read(spark, t).count() == 300 - dead)
    // MOR: the delete is a dv commit, so it streams as CDF retractions
    val h = Snapshots.history(spark, t).orderBy($"version")
      .select($"action").as[String].collect().toSeq
    assert(h == Seq("append", "dv"), h.toString)
    assert(Snapshots.changeFeed(spark, t, 0L, 1L)
      .where($"_change_type" === "delete").count() == dead)

    // ALTER TABLE SET TBLPROPERTIES arms engine behavior: cow mode
    spark.sql("ALTER TABLE gsnap8.del_tbl SET TBLPROPERTIES ('delete.mode'='cow')")
    assert(Snapshots.properties(spark, t).get("delete.mode").contains("cow"))
    spark.sql("DELETE FROM gsnap8.del_tbl WHERE o_custkey < 50")
    val h2 = Snapshots.history(spark, t).orderBy($"version")
      .select($"action").as[String].collect().toSeq
    assert(h2.last == "replace", s"cow delete must rewrite, not dv: $h2")
    assert(Snapshots.read(spark, t).where($"o_custkey" < 50).count() == 0)
    spark.sql("ALTER TABLE gsnap8.del_tbl UNSET TBLPROPERTIES ('delete.mode')")
    assert(!Snapshots.properties(spark, t).contains("delete.mode"))

    // schema-mutating ALTER still refuses; untranslatable DELETE refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE gsnap8.del_tbl ADD COLUMN bonus DOUBLE")
    }
    intercept[Exception] {
      spark.sql("DELETE FROM gsnap8.del_tbl WHERE o_orderkey IN " +
        "(SELECT o_orderkey FROM gsnap8.del_tbl WHERE o_totalprice > 100000)")
    }
  }

  test("CALL maintenance procedures: the whole ops loop drives through SQL") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat9_").toString
    val t = s"$root/ops_tbl"
    (0 until 5).foreach { i =>
      Snapshots.commit(spark, t, orders.where($"o_orderkey" % 5 === i))
    }
    Snapshots.deleteWhereMor(spark, t, $"o_totalprice" < 30000.0)
    val want = Snapshots.read(spark, t).count()
    spark.conf.set("spark.sql.catalog.gsnap9", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap9.root", root)

    val dv0 = spark.sql("CALL gsnap9.system.dv_stats('ops_tbl')")
      .select($"dirty_files", $"dv_rows").as[(Int, Long)].head()
    assert(dv0._1 > 0 && dv0._2 > 0, s"MOR delete must show as dv debt: $dv0")

    val c = spark.sql(
      "CALL gsnap9.system.compact_small('ops_tbl', 1000000, 4194304)")
      .select($"files_rewritten").as[Int].head()
    assert(c > 0, "five small commits must qualify for compaction")
    assert(Snapshots.read(spark, t).count() == want,
      "compaction is content-neutral")

    spark.sql("CALL gsnap9.system.purge_deletes('ops_tbl')")
    assert(spark.sql("CALL gsnap9.system.dv_stats('ops_tbl')")
      .select($"dv_files").as[Int].head() == 0,
      "compact+purge must clear the dv debt")

    val hist = spark.sql("CALL gsnap9.system.history('ops_tbl')")
    assert(hist.count() == Snapshots.versions(spark, t).size.toLong)
    assert(hist.columns.toSeq ==
      Seq("version", "action", "n_files", "n_removed", "n_dvs", "ts"))

    spark.sql("CALL gsnap9.system.checkpoint('ops_tbl')")
    val deleted = spark.sql("CALL gsnap9.system.vacuum('ops_tbl', 1)")
      .select($"files_deleted").as[Long].head()
    assert(deleted > 0, "pre-compaction files must be reclaimed")
    assert(Snapshots.read(spark, t).count() == want,
      "vacuum never changes the visible rows")

    // optimize: z-order rewrite via CALL, content-neutral
    val v = spark.sql(
      "CALL gsnap9.system.optimize('ops_tbl', 1000000, 'o_custkey,o_totalprice')")
      .select($"version").as[Long].head()
    assert(v == Snapshots.latestVersion(spark, t).get)
    assert(Snapshots.read(spark, t).count() == want)

    // an unknown procedure refuses with the available list
    val e = intercept[Exception] {
      spark.sql("CALL gsnap9.system.no_such_proc('x')")
    }
    assert(e.getMessage.contains("no procedure") ||
      e.getMessage.contains("FAILED_TO_LOAD_ROUTINE"), e.getMessage)
  }

  test("pushed SQL predicates prune at the MANIFEST level: partition equality and stats bands shrink the planned file list") {
    val root = java.nio.file.Files.createTempDirectory("graft_cat10_").toString
    val t = s"$root/skip_tbl"
    val base = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    Snapshots.setPartitionColumns(spark, t, Seq("o_orderpriority"))
    Snapshots.setStatsColumns(spark, t, Seq("o_totalprice"))
    // range-cluster so the stats envelopes are tight per file
    Snapshots.commit(spark, t,
      base.repartitionByRange(6, $"o_totalprice"))
    Snapshots.deleteWhereMor(spark, t, $"o_orderkey" % 11 === 0)
    spark.conf.set("spark.sql.catalog.gsnap10", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsnap10.root", root)

    // the engine-side survivor sets the scan must reproduce
    val all = Snapshots.filesAt(spark, t,
      Snapshots.latestVersion(spark, t).get).size
    val partOnly = Snapshots.prunedFiles(spark, t, $"o_orderpriority" === "1-URGENT").size
    val bandOnly = Snapshots.prunedFiles(spark, t, $"o_totalprice" >= 200000.0).size
    assert(partOnly < all,
      s"partition equality must drop files: $partOnly of $all")
    assert(bandOnly < all,
      s"a one-sided stats band must drop files: $bandOnly of $all")

    // through SQL: result-identical to the relational filter, and the
    // scan description shows the derived hints
    val sql1 = spark.sql("SELECT o_orderkey, o_totalprice FROM " +
      "gsnap10.skip_tbl WHERE o_orderpriority = '1-URGENT' " +
      "AND o_totalprice >= 200000.0")
    val want = Snapshots.read(spark, t)
      .where($"o_orderpriority" === "1-URGENT" && $"o_totalprice" >= 200000.0)
      .select($"o_orderkey", $"o_totalprice")
    assert(sql1.exceptAll(want).isEmpty && want.exceptAll(sql1).isEmpty)
    val plan = sql1.queryExecution.executedPlan.toString
    // (the partition column shows in the bands set too — no stats are
    // recorded for it, so the band can never prune: harmless)
    assert(plan.contains("partPrune=[o_orderpriority]") &&
      plan.contains("statsBands=[") && plan.contains("o_totalprice"),
      s"scan must derive manifest-skipping hints: ${plan.take(800)}")

    // a BETWEEN arrives as two one-sided conjuncts -> one closed band;
    // equality on a stats column bands both sides
    val sql2 = spark.sql("SELECT COUNT(*) AS n FROM gsnap10.skip_tbl " +
      "WHERE o_totalprice BETWEEN 100000.0 AND 150000.0")
    val want2 = Snapshots.read(spark, t)
      .where($"o_totalprice".between(100000.0, 150000.0)).count()
    assert(sql2.as[Long].head() == want2)

    // IN-list on the partition column (the backfill shape): union of
    // per-value survivors, still pure path parsing
    val inPrune = Snapshots.prunedFiles(spark, t,
      $"o_orderpriority".isin("1-URGENT", "2-HIGH")).size
    assert(inPrune < all, s"IN-list must drop files: $inPrune of $all")
    val sql3 = spark.sql("SELECT o_orderkey FROM gsnap10.skip_tbl " +
      "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')")
    val want3 = Snapshots.read(spark, t)
      .where($"o_orderpriority".isin("1-URGENT", "2-HIGH"))
      .select($"o_orderkey")
    assert(sql3.exceptAll(want3).isEmpty && want3.exceptAll(sql3).isEmpty)
    assert(sql3.queryExecution.executedPlan.toString
      .contains("partPrune=[o_orderpriority]"))
  }

  test("inner plan keeps parquet pushdown: pruned read schema and pushed filter") {
    val t = freshTable()
    Snapshots.commit(spark, t, orders.repartitionByRange(4, $"o_orderkey"))
    val df = spark.read.format("graft-snapshot").load(t)
      .where($"o_orderkey" === 7L).select($"o_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    // the DSv2 scan reports what it pushed into the inner engine plan
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(plan.contains("graft-snapshot"), plan.take(500))
  }

  test("COUNT(*) through the SQL provider is metadata-only and DV-exact") {
    val t = freshTable()
    buildLifecycle(t) // commit + MOR delete (DVs standing) + MOR merge
    val api = Snapshots.read(spark, t).count()
    val df = spark.read.format("graft-snapshot").load(t)
      .agg(count(lit(1)).as("n"))
    // the pushed-down count must equal the full read's count, DVs and
    // merge files included
    assert(df.head().getLong(0) == api)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("aggPushed=[count(*)]"),
      s"COUNT(*) not answered from manifests:\n${plan.take(800)}")
    assert(!plan.contains("Scan parquet"),
      s"metadata COUNT(*) opened data files:\n${plan.take(800)}")
    // SQL spelling through the catalog hits the same path
    spark.conf.set("spark.sql.catalog.gsqlc", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.gsqlc.root",
      new java.io.File(t).getParent)
    val name = new java.io.File(t).getName
    assert(spark.sql(s"SELECT COUNT(*) FROM gsqlc.`$name`").head().getLong(0) == api)
    // a WHERE disables the pushdown (filters stay residual here) and
    // the filtered count still matches the API exactly
    val filtered = spark.read.format("graft-snapshot").load(t)
      .where($"o_totalprice" >= 50000.0).count()
    assert(filtered ==
      Snapshots.read(spark, t).where($"o_totalprice" >= 50000.0).count())
    // version pinning composes: COUNT at v0 sees the pre-delete table
    val v0 = spark.read.format("graft-snapshot").option("versionAsOf", "0")
      .load(t).agg(count(lit(1))).head().getLong(0)
    assert(v0 == Snapshots.read(spark, t, Some(0L)).count())
  }

  test("provider scan reports manifest row statistics to the planner") {
    val t = freshTable()
    Snapshots.commit(spark, t, orders.repartitionByRange(4, $"o_orderkey"))
    val rel = spark.read.format("graft-snapshot").load(t)
      .queryExecution.optimizedPlan
    val stats = rel.stats
    assert(stats.rowCount.contains(BigInt(orders.count())),
      s"expected manifest row count in planner stats, got $stats")
  }

  test("provider scan reports the manifest row count and leaves its byte size unknown") {
    // long strings: rows x the schema's default width (20 bytes a
    // string) would price this table far below its real size
    val t = freshTable()
    Snapshots.commit(spark, t, spark.range(50).select($"id", repeat(lit("x"), 10000).as("text")))
    val scan = spark.read.format("graft-snapshot").load(t).queryExecution.optimizedPlan
      .collectFirst { case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
      .getOrElse(fail("no DSv2 scan in the plan"))
    val stats = scan.scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 50L)
    assert(!stats.sizeInBytes().isPresent, s"sizeInBytes ${stats.sizeInBytes()}")
    assert(scan.stats.sizeInBytes == BigInt(spark.sessionState.conf.defaultSizeInBytes))
    assert(scan.stats.rowCount.contains(BigInt(50)))
  }
}

package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.llm.Multimodal
import graft.ml.FraudModel

/** Operators whose results are not ANSI-SQL-reproducible (seeded
  * sampling, approximate sketches, ML transforms, side-effecting
  * sources/sinks). Driver records a rows>0 check; the strong assertions
  * (seed determinism, tolerance vs exact, schema) live in ScalaTest
  * (SURVEY.md §5). The CSV round-trip IS oracle-checked — the written
  * data must agree with the parquet source exactly.
  */
object NonSql {
  import Inventory.Q

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // S1+S2+S3: CSV sink → multi-part CSV scan → same aggregate as parquet
  // (batch_processing.py:21,52; insert_offline.py:18-21)
  val s1CsvRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_csv_").toString
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    // Glob via pathGlobFilter, not a glob IN the path: the path-glob
    // form resolves file listing during analysis and (Spark 4.1) logs a
    // spurious FileNotFoundException + internal retry right after a
    // write to the same dir; the option form composes with partition
    // discovery and lists once at execution.
    s.read.option("header", "true")
      .schema("l_orderkey LONG, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING")
      .option("pathGlobFilter", "part-*.csv")
      .csv(tmp)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  // S5 via the in-repo Kafka-shaped log source (graft.sources
  // .LogTopicProvider): a subset of events is produced as keyed JSON
  // wire records into a partitioned append-log topic, read back through
  // `format("graft-log")` (Kafka-compatible schema: key/value/topic/
  // partition/offset/timestamp), JSON-parsed, and aggregated — so the
  // ingress path the reference serves from Kafka
  // (stream_processing/pipeline.py:38-44) is oracle-checked end to end
  // against the same aggregate straight off the parquet table. The
  // driver-side produce mirrors production, where producers are
  // external processes; only the ~2k-row demo subset collects.
  val s5LogRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_logtopic_").toString
    graft.sources.LogTopic.createTopic(tmp, 4)
    // to_json, not string interpolation: the engine's own writer
    // escapes quotes/backslashes and keeps the round-trip with
    // from_json symmetric whatever the testdata contains
    val recs = t(s, dir, "events").filter($"event_id" < 2000)
      .select($"event_id", $"user_id",
        to_json(struct($"event_id", $"user_id", $"event_type", $"value")).as("j"))
      .collect().map { r =>
        graft.sources.LogTopic.ProducerRecord(
          Some(r.getLong(1).toString), // keyed by user: per-user ordering
          r.getString(2),
          tsMillis = 1700000000000L + r.getLong(0))
      }
    graft.sources.LogTopic.produce(tmp, recs.toSeq)
    s.read.format("graft-log").option("path", tmp).load()
      .select(from_json($"value".cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, user_id LONG, event_type STRING, value DOUBLE")).as("r"))
      .groupBy($"r.event_type".as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum($"r.value".cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy($"event_type")
  }

  // S13: ORC sink → scan round-trip — the second columnar format the
  // engine serves natively (same aggregate contract as S1's CSV path;
  // ORC scans get the same predicate-pushdown + column pruning as
  // parquet through the built-in v2 source)
  val s13OrcRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_orc_").toString
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  // S15: bucketed managed tables → co-located join. Both sides are
  // written bucketBy(8, custkey) + sortBy into the session warehouse;
  // a join on the bucket key then needs NO shuffle exchange on either
  // side — the physical property bucketing exists for, and the standard
  // answer to "this 100 TB join shuffles both sides every night".
  // PlanSpec asserts the no-Exchange SMJ; here the driver oracle checks
  // the VALUES survive the bucketed round-trip.
  val s15BucketedJoin: Q = (s, dir) => {
    import s.implicits._
    // external tables at a fresh temp path: a stale warehouse directory
    // from an earlier SESSION would otherwise collide with the managed
    // location even after DROP TABLE (the in-memory catalog forgets,
    // the filesystem doesn't)
    val tmp = Files.createTempDirectory("graft_bkt_").toString
    s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    t(s, dir, "orders").select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .write.mode("overwrite").format("parquet").option("path", s"$tmp/orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("graft_bkt_orders")
    t(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
      .write.mode("overwrite").format("parquet").option("path", s"$tmp/customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("graft_bkt_customer")
    s.table("graft_bkt_orders")
      .join(s.table("graft_bkt_customer"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .orderBy($"c_mktsegment")
  }

  // S17: zone-map pruned scan — the data-skipping layer a 100 TB table
  // lives or dies by: orders is laid out range-partitioned on
  // o_totalprice (disjoint per-file envelopes — what any sorted or
  // z-ordered ingest produces), indexed with Layout.zoneMap, a price
  // box prunes the file list, and ONLY the survivors are scanned before
  // the exact predicate applies. The oracle is the same filter over the
  // FULL table — skipping must be result-invisible (LayoutSpec asserts
  // files were actually skipped and that a z-ordered layout prunes on
  // BOTH box dimensions; here the driver checks the values).
  val s17ZonemapPrune: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_zm_").toString
    t(s, dir, "orders").select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .repartitionByRange(8, $"o_totalprice")
      .write.mode("overwrite").parquet(tmp)
    val zm = graft.operators.Layout.zoneMap(s, tmp, Seq("o_totalprice"))
    val files = graft.operators.Layout.pruneFiles(zm,
      graft.operators.Layout.rangeEnvelope("o_totalprice",
        lit(50000.0), lit(150000.0)))
    graft.operators.Layout.prunedParquet(s, tmp, files)
      .filter($"o_totalprice".between(50000.0, 150000.0))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  // S18: Bloom-index point lookup — the skipping case zone maps CANNOT
  // serve: orders is laid out hash-scattered by an UNRELATED column
  // (o_custkey), so every file's o_orderkey min/max envelope spans the
  // whole domain and range pruning keeps all files. The per-file Bloom
  // index prunes a 3-key IN-list to the ~3 containing files (+fpp)
  // before the scan; the exact IN predicate then applies. Oracle = the
  // same IN over the FULL table — skipping must be result-invisible.
  val s18BloomPointLookup: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_bi_").toString
    val orders = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    orders.repartition(8, $"o_custkey").write.mode("overwrite").parquet(tmp)
    val perFile = (orders.count() / 8L).max(1L)
    val idx = graft.operators.Layout.bloomIndex(s, tmp, "o_orderkey", perFile)
    val keys: Seq[Any] = Seq(7L, 128L, 1201L)
    val files = graft.operators.Layout.pruneFilesByKeys(idx, keys)
    graft.operators.Layout.prunedParquet(s, tmp, files)
      .filter($"o_orderkey".isin(keys: _*))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  // S19: snapshot-versioned table read — the reference overwrites its
  // offline parquet in place (batch_processing.py mode="overwrite"), so
  // a read racing a refresh sees partial data; Snapshots makes the
  // manifest rename the atomic commit point. The query drives the full
  // lifecycle (append, append, full-refresh OVERWRITE, append) and
  // reads the latest version; the oracle is the plain table — commits
  // must compose to exactly the data, and the stale v0/v1 files still
  // on disk must stay invisible to the manifest-driven scan.
  val s19SnapshotRead: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_snap_").toString
    val orders = t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    graft.operators.Snapshots.commit(s, tmp, orders.filter($"o_orderkey" % 2 === 0))
    graft.operators.Snapshots.commit(s, tmp, orders.limit(7)) // churn
    graft.operators.Snapshots.commit(s, tmp,
      orders.filter($"o_orderkey" % 2 === 0), overwrite = true)
    graft.operators.Snapshots.commit(s, tmp, orders.filter($"o_orderkey" % 2 === 1))
    graft.operators.Snapshots.read(s, tmp)
      .orderBy($"o_orderkey")
  }

  // S20: the copy-on-write DML lifecycle on a snapshot table — DELETE
  // drops low-price orders rewriting only files that hold one, UPDATE
  // re-keys finished orders' customers, MERGE upserts a corrections
  // batch (matched rows replaced, new keys inserted — including keys
  // the delete removed). The final read is the oracle-comparable state;
  // every intermediate version stays time-travelable.
  val s20CowLifecycle: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_cow_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    graft.operators.Snapshots.commit(s, tmp,
      base.repartitionByRange(8, $"o_orderkey"))
    graft.operators.Snapshots.deleteWhere(s, tmp, $"o_totalprice" < 50000.0)
    graft.operators.Snapshots.updateWhere(s, tmp, $"o_orderstatus" === "F",
      Map("o_custkey" -> ($"o_custkey" + 1000000L)))
    val src = base.filter($"o_orderkey" % 100 === 0)
      .withColumn("o_orderstatus", lit("U"))
    graft.operators.Snapshots.mergeInto(s, tmp, src, Seq("o_orderkey"))
    graft.operators.Snapshots.read(s, tmp)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  // S21: merge-on-read lifecycle on a snapshot table — deletion-vector
  // DELETE (zero files rewritten), MOR MERGE (matched rows marked dead
  // in a DV, source appended), purge (DVs folded back into clean
  // files), then a second MOR delete so the final read exercises the
  // live DV anti-join path. The SQL twin proves MOR == the plain
  // relational semantics at sf scale.
  val s21MorLifecycle: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_mor_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    graft.operators.Snapshots.commit(s, tmp,
      base.repartitionByRange(8, $"o_orderkey"))
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_totalprice" < 50000.0)
    val src = base.filter($"o_orderkey" % 100 === 0)
      .withColumn("o_orderstatus", lit("U"))
    graft.operators.Snapshots.mergeIntoMor(s, tmp, src, Seq("o_orderkey"))
    graft.operators.Snapshots.purgeDeletes(s, tmp)
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_totalprice" > 400000.0)
    graft.operators.Snapshots.read(s, tmp)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  // S22: change data feed over a merge-on-read history — every row
  // change in the range as (row.., _change_type): appends and MOR
  // inserts emit inserts, deletion vectors emit deletes WITH OLD ROW
  // CONTENT, the purge is content-neutral and emits nothing. The SQL
  // twin reconstructs the same feed relationally.
  val s22ChangeFeed: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_cdf_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    graft.operators.Snapshots.commit(s, tmp,
      base.repartitionByRange(8, $"o_orderkey"))
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_totalprice" < 30000.0)
    val src = base.filter($"o_orderkey" % 200 === 0)
      .withColumn("o_orderstatus", lit("U"))
    graft.operators.Snapshots.mergeIntoMor(s, tmp, src, Seq("o_orderkey"))
    graft.operators.Snapshots.purgeDeletes(s, tmp)
    val last = graft.operators.Snapshots.latestVersion(s, tmp).get
    graft.operators.Snapshots.changeFeed(s, tmp, -1L, last)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        $"_change_type")
      .orderBy($"o_orderkey", $"_change_type", $"o_orderstatus")
  }

  // S23: incremental small-file compaction on a live snapshot table —
  // a base commit plus 8 tiny "micro-batch" appends (the streaming
  // landing shape), a merge-on-read delete (so the fold must read
  // through deletion vectors), then compactSmall bin-packs only the
  // undersized files as a content-neutral replace. The oracle proves
  // the housekeeping is result-invisible: the read after compaction is
  // exactly the relational state. (At larger SFs some files exceed the
  // size threshold and simply don't fold — the result is invariant by
  // construction, which is the point.)
  val s23CompactSmall: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_csm_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    graft.operators.Snapshots.commit(s, tmp,
      base.filter($"o_orderkey" % 16 < 8).repartition(2))
    (8 until 16).foreach { i =>
      graft.operators.Snapshots.commitBatch(s, tmp,
        base.filter($"o_orderkey" % 16 === i), batchId = i.toLong)
    }
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_totalprice" < 20000.0)
    graft.operators.Snapshots.compactSmall(s, tmp,
      targetRowsPerFile = 2000000L, smallFileMaxBytes = 512L * 1024L)
    graft.operators.Snapshots.read(s, tmp)
      .orderBy($"o_orderkey")
  }

  // S24: stats-in-log range pruning — commit-time footer stats (no
  // data scan: the write's own parquet footers) recorded per manifest;
  // a range read folds the log, scans only envelope-intersecting
  // files, and still subtracts the standing deletion vectors. The
  // oracle proves the pruned+DV'd read equals the plain relational
  // filter.
  val s24StatsPrune: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_stats_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    graft.operators.Snapshots.setStatsColumns(s, tmp, Seq("o_totalprice"))
    graft.operators.Snapshots.commit(s, tmp,
      base.filter($"o_orderkey" % 2 === 0).repartitionByRange(4, $"o_totalprice"))
    graft.operators.Snapshots.commit(s, tmp,
      base.filter($"o_orderkey" % 2 =!= 0).repartitionByRange(4, $"o_totalprice"))
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_custkey" % 10 === 0)
    graft.operators.Snapshots.read(s, tmp, None,
      $"o_totalprice".between(50000.0, 150000.0))
      .orderBy($"o_orderkey")
  }

  // S25: partition-aware snapshot lifecycle — the 100 TB layout
  // contract: orders is committed hive-partitioned by o_orderpriority
  // (per-file partition values recoverable from the manifest's paths),
  // a whole partition is dropped METADATA-ONLY (no byte read — the
  // "delete a day" primitive), another is atomically replaced by a
  // dynamic partition overwrite (the nightly-refresh contract), a MOR
  // delete lands on what remains, and the final read must equal the
  // relational composition. SnapshotSpec pins that a partition
  // predicate plans ONLY that partition's files.
  val s25PartitionedSnapshot: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_part_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority", $"o_totalprice")
    graft.operators.Snapshots.setPartitionColumns(s, tmp, Seq("o_orderpriority"))
    graft.operators.Snapshots.commit(s, tmp, base)
    graft.operators.Snapshots.deletePartitions(s, tmp,
      Map("o_orderpriority" -> "5-LOW"))
    graft.operators.Snapshots.overwritePartitions(s, tmp,
      base.where($"o_orderpriority" === "2-HIGH" && $"o_totalprice" > 100000.0))
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_custkey" % 50 === 0)
    graft.operators.Snapshots.read(s, tmp)
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  // S26: SQL surface over snapshot tables — the query runs THROUGH
  // spark.sql over the SnapshotCatalog with native VERSION AS OF time
  // travel (DataSourceV2 TableCatalog.loadTable(ident, version)), the
  // scan serving the engine's own read plan (deletion vectors
  // subtracted in-scan). v2 appends churn AFTER the queried version —
  // the pinned read must not see it.
  val s26SqlSnapshot: Q = (s, dir) => {
    import s.implicits._
    val root = Files.createTempDirectory("graft_sqlcat_").toString
    val snap = s"$root/orders_snap"
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    graft.operators.Snapshots.commit(s, snap, base)
    graft.operators.Snapshots.deleteWhereMor(s, snap, $"o_totalprice" < 50000.0)
    graft.operators.Snapshots.commit(s, snap, base.limit(777)) // post-pin churn
    s.conf.set("spark.sql.catalog.gsnapq", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.gsnapq.root", root)
    s.sql(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM gsnapq.orders_snap VERSION AS OF 1
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  // S27: metadata-only COUNT(*) — per-file row counts recorded at
  // commit time (same footer read as the column stats) fold through
  // the log, standing deletion vectors subtract via one sidecar-scale
  // aggregation: the most common query ever issued answers without
  // opening a data file. The oracle is the plain relational count.
  val s27CountMeta: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_cnt_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    graft.operators.Snapshots.setStatsColumns(s, tmp, Seq("o_totalprice"))
    graft.operators.Snapshots.commit(s, tmp, base.repartition(4))
    graft.operators.Snapshots.deleteWhereMor(s, tmp, $"o_totalprice" < 50000.0)
    val n = graft.operators.Snapshots.countAt(s, tmp).getOrElse(
      sys.error("countAt: stats recorded at commit must cover every file"))
    Seq(n).toDF("n")
  }

  // S28: Structured Streaming OVER a snapshot table — the lakehouse
  // streaming-source contract: src accumulates three appends with a
  // content-neutral compaction mid-history (deltas must read through
  // it), then is REPLICATED table-to-table: readStream(graft-snapshot,
  // startingVersion=0, maxVersionsPerTrigger=1 — version offsets,
  // admission-controlled) → foreachBatch commitBatch (the idempotent
  // exactly-once sink). The replica's final content must equal the
  // relational union — end-to-end through both the streaming source
  // and the streaming sink.
  val s28StreamSnapshot: Q = (s, dir) => {
    import s.implicits._
    val root = Files.createTempDirectory("graft_stream_").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    graft.operators.Snapshots.commit(s, src, base.filter($"o_orderkey" % 3 === 0))
    graft.operators.Snapshots.commit(s, src, base.filter($"o_orderkey" % 3 === 1))
    graft.operators.Snapshots.compactLatest(s, src, targetRowsPerFile = 4000000L)
    graft.operators.Snapshots.commit(s, src, base.filter($"o_orderkey" % 3 === 2))
    val q = s.readStream.format("graft-snapshot")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.operators.Snapshots.commitBatch(s, dst, df, id): Unit
      }.start()
    q.awaitTermination()
    graft.operators.Snapshots.read(s, dst).orderBy($"o_orderkey")
  }

  // S29: the SQL WRITE surface — INSERT INTO appends through the
  // manifest (the same commit every other writer makes), INSERT
  // OVERWRITE atomically replaces, and the final content is read back
  // through spark.sql over the catalog.
  val s29SqlInsert: Q = (s, dir) => {
    import s.implicits._
    val root = Files.createTempDirectory("graft_sqlins_").toString
    val base = t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    graft.operators.Snapshots.commit(s, s"$root/orders_ins",
      base.where($"o_totalprice" >= 50000.0))
    s.conf.set("spark.sql.catalog.gsnapw", "graft.sources.SnapshotCatalog")
    s.conf.set("spark.sql.catalog.gsnapw.root", root)
    base.createOrReplaceTempView("s29_base")
    s.sql("INSERT INTO gsnapw.orders_ins " +
      "SELECT * FROM s29_base WHERE o_totalprice < 50000.0")
    s.sql("INSERT OVERWRITE gsnapw.orders_ins " +
      "SELECT * FROM s29_base WHERE o_custkey % 10 != 0")
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice " +
      "FROM gsnapw.orders_ins ORDER BY o_orderkey")
  }

  // S14: JSON-lines sink → scan round-trip — the reference's streaming
  // wire format (pipeline.py:44 json.loads per record) as a batch
  // source/sink. Explicit read schema (engine policy, SURVEY §1.2):
  // inference over JSON costs an extra full scan and can drift types.
  val s14JsonRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val tmp = Files.createTempDirectory("graft_json_").toString
    t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
      .write.mode("overwrite").json(tmp)
    s.read
      .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(tmp)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  // S11: synthetic producer distributions (producer.py:14-30) — batch
  // analog of the rate source: exponential amounts, normal coordinates.
  val s11Synthetic: Q = (s, dir) => {
    import s.implicits._
    s.range(0, 10000)
      .select(
        md5(concat(lit("txn_"), $"id".cast("string"))).as("txn_id"),
        ($"id" % 983).as("cc_num"),
        round(-log(rand(42)) * 70.0, 2).as("amount"),
        round(randn(43) * 5.1 + 38.5, 6).as("lat"),
        round(randn(44) * 13.7 - 90.2, 6).as("long"))
      .filter($"amount" >= 0)
  }

  // U2: seeded fraction sample (featurestore_flow.py:48)
  val u2SampleFrac: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders").sample(withReplacement = false, 0.75, 42L)
      .agg(count(lit(1)).as("n_sampled"))
  }

  // U3: fixed-n sample via seeded shuffle + limit (training.py:65)
  val u3SampleN: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders").orderBy(rand(42L)).limit(100)
      .agg(count(lit(1)).as("n"))
  }

  // U4: stratified sampling (training.py:64-66 class balancing)
  val u4Stratified: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem")
      .stat.sampleBy("l_returnflag", Map("A" -> 0.2, "N" -> 1.0, "R" -> 0.5), 42L)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  // U5: train/test split (training.py:73)
  val u5Split: Q = (s, dir) => {
    import s.implicits._
    val Array(tr, te) = t(s, dir, "orders").randomSplit(Array(0.75, 0.25), 42L)
    tr.agg(count(lit(1)).as("n")).withColumn("split", lit("train"))
      .unionByName(te.agg(count(lit(1)).as("n")).withColumn("split", lit("test")))
  }

  // O4: seeded random reorder (training.py:66)
  val o4Shuffle: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders").orderBy(rand(42L)).limit(5)
      .select($"o_orderkey")
  }

  // U8: deterministic hash sample — the reproducible cross-engine
  // alternative to seeded RNG sampling (same rows on ANY engine/run:
  // order by a content hash, take n). This is the sampling you want at
  // 100 TB: re-runs and backfills pick identical rows, no RNG state.
  val u8HashSample: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders")
      .select($"o_orderkey", md5($"o_orderkey".cast("string")).as("h"))
      .orderBy($"h", $"o_orderkey").limit(100)
  }

  // A13 exact path: true percentiles (sort-based) vs the approx sketch
  val a13bExactQuantiles: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem").agg(
      round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
      round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
  }

  // A10 approximate path: HLL distinct for 100 TB stats
  val a10Approx: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "orders").agg(
      approx_count_distinct($"o_custkey").as("approx_custs"),
      countDistinct($"o_custkey").as("exact_custs"))
  }

  // A-extra: approximate quantiles (percentile_approx) for scale stats
  val aQuantiles: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "lineitem").agg(
      percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("p50"),
      percentile_approx($"l_extendedprice", lit(0.99), lit(10000)).as("p99"))
  }

  // A3/A4 batch-equivalent: event-time sliding window aggregation with
  // the reference's literal Flink spec (2 min size / 20 s slide,
  // pipeline.py:59-62) — 6 window copies per event; the named-duration
  // spec (600 s/20 s) is the streaming default (StreamPipeline).
  val slidingWindowBatch: Q = (s, dir) => {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("tsec", timestamp_seconds(Tables.tsSec($"ts")))
      .groupBy(window($"tsec", "120 seconds", "20 seconds"), $"user_id")
      .agg(count(lit(1)).as("txn_count"))
      .select($"window.start".cast("long").as("win_start"), $"user_id", $"txn_count")
      .orderBy($"win_start", $"user_id")
  }

  // ML: distributed feature transform (indexer+assembler+scaler shape)
  val mlFeatureTransform: Q = (s, dir) => {
    import s.implicits._
    val feats = t(s, dir, "events")
      .select($"event_id", $"event_type".as("category"),
        when($"user_id" % 2 === 0, "M").otherwise("F").as("gender"),
        $"value".as("amt"), hour($"ts").as("hour_of_day"),
        dayofweek($"ts").as("day_of_week"), lit(30.0).as("age_at_txn"),
        lit(1.0).as("distance_to_merchant"), lit(1).as("txn_count_last_10_min"),
        $"value".as("avg_amt_last_1_hour"), lit(1000).as("city_pop"),
        when($"value" > 150, 1).otherwise(0).as("is_fraud"))
    // Fit on a deterministic ~20% hash sample, transform the FULL set:
    // the estimator passes (indexer scans, scaler stats, LR iterations)
    // are the expensive part and converge on a sample; the transform is
    // the thing this query demonstrates. At 100 TB you never refit on
    // the whole corpus inside a feature-transform job.
    val fitSample = feats.where(pmod(xxhash64($"event_id"), lit(5)) === 0)
    val model = FraudModel.pipeline(useMlp = false, maxIter = 10).fit(fitSample)
    model.transform(feats)
      .select($"event_id", $"is_fraud", $"prediction")
      .orderBy($"event_id")
  }

  // Multimodal batched decode over binary payloads: a mixed table of
  // real PNGs (decoded by javax.imageio to true width/height/channels,
  // decoder="imageio") and text-as-binary rows (byte-level fallback,
  // decoder="fallback") — both paths of the production decode plumbing
  // in one result.
  val mmDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text")
      .unionByName(Multimodal.syntheticPngs(s, 100, idOffset = 1000000L))
    Multimodal.sampleFrames(Multimodal.decodeMeta(media), everyN = 4)
      .orderBy($"media_id")
  }

  val queries: Map[String, Q] = Map(
    "s1_csv_roundtrip" -> s1CsvRoundtrip,
    "s13_orc_roundtrip" -> s13OrcRoundtrip,
    "s14_json_roundtrip" -> s14JsonRoundtrip,
    "s15_bucketed_join" -> s15BucketedJoin,
    "s11_synthetic_producer" -> s11Synthetic,
    "u2_sample_frac" -> u2SampleFrac,
    "u3_sample_n" -> u3SampleN,
    "u4_stratified_sample" -> u4Stratified,
    "u5_train_test_split" -> u5Split,
    "u8_hash_sample" -> u8HashSample,
    "o4_seeded_shuffle" -> o4Shuffle,
    "a13b_exact_quantiles" -> a13bExactQuantiles,
    "a10_approx_distinct" -> a10Approx,
    "a13_approx_quantiles" -> aQuantiles,
    "a3_sliding_window_batch" -> slidingWindowBatch,
    "ml_feature_transform" -> mlFeatureTransform,
    "mm_decode_meta" -> mmDecode,
    "s5_log_roundtrip" -> s5LogRoundtrip,
    "s17_zonemap_prune" -> s17ZonemapPrune,
    "s18_bloom_point_lookup" -> s18BloomPointLookup,
    "s19_snapshot_read" -> s19SnapshotRead,
    "s20_cow_lifecycle" -> s20CowLifecycle,
    "s21_mor_lifecycle" -> s21MorLifecycle,
    "s22_change_feed" -> s22ChangeFeed,
    "s23_compact_small" -> s23CompactSmall,
    "s24_stats_prune" -> s24StatsPrune,
    "s25_partitioned_snapshot" -> s25PartitionedSnapshot,
    "s26_sql_snapshot" -> s26SqlSnapshot,
    "s27_count_meta" -> s27CountMeta,
    "s28_stream_snapshot" -> s28StreamSnapshot,
    "s29_sql_insert" -> s29SqlInsert
  )

  /** CSV round-trip and the sliding window are oracle-comparable (the
    * sliding window via aligned window-start expansion: each event
    * belongs to the 6 epoch-aligned 20 s slide starts within 120 s). */
  val oracle: Map[String, String] = Map(
    "s1_csv_roundtrip" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "s13_orc_roundtrip" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "s14_json_roundtrip" ->
      ("SELECT o_orderstatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "s15_bucketed_join" ->
      ("SELECT c_mktsegment, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "a3_sliding_window_batch" ->
      ("WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events) " +
        "SELECT (t // 20) * 20 - 20 * i AS win_start, user_id, COUNT(*) AS txn_count " +
        "FROM e CROSS JOIN (SELECT UNNEST(range(0, 6)) AS i) " +
        "WHERE (t // 20) * 20 - 20 * i > t - 120 " +
        "GROUP BY 1, 2 ORDER BY win_start, user_id"),
    "u8_hash_sample" ->
      ("SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS h " +
        "FROM orders ORDER BY h, o_orderkey LIMIT 100"),
    "a13b_exact_quantiles" ->
      ("SELECT ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50, " +
        "ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99 FROM lineitem"),
    "s5_log_roundtrip" ->
      ("SELECT event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM events WHERE event_id < 2000 " +
        "GROUP BY event_type ORDER BY event_type"),
    "s17_zonemap_prune" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_totalprice BETWEEN 50000.0 AND 150000.0 " +
        "ORDER BY o_orderkey"),
    "s18_bloom_point_lookup" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey IN (7, 128, 1201) ORDER BY o_orderkey"),
    "s19_snapshot_read" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "ORDER BY o_orderkey"),
    "s20_cow_lifecycle" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), " +
        "del AS (SELECT * FROM base WHERE NOT (o_totalprice < 50000.0)), " +
        "upd AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderstatus = 'F' THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey, " +
        "o_orderstatus, o_totalprice FROM del), " +
        "src AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice " +
        "FROM base WHERE o_orderkey % 100 = 0) " +
        "SELECT * FROM (" +
        "SELECT * FROM upd WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) " +
        "UNION ALL SELECT * FROM src) ORDER BY o_orderkey"),
    "s21_mor_lifecycle" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), " +
        "del AS (SELECT * FROM base WHERE NOT (o_totalprice < 50000.0)), " +
        "src AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice " +
        "FROM base WHERE o_orderkey % 100 = 0), " +
        "merged AS (SELECT * FROM del WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src) " +
        "UNION ALL SELECT * FROM src) " +
        "SELECT * FROM merged WHERE NOT (o_totalprice > 400000.0) " +
        "ORDER BY o_orderkey"),
    "s23_compact_small" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE NOT (o_totalprice < 20000.0) ORDER BY o_orderkey"),
    "s24_stats_prune" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_totalprice BETWEEN 50000.0 AND 150000.0 " +
        "AND NOT (o_custkey % 10 = 0) ORDER BY o_orderkey"),
    "s25_partitioned_snapshot" ->
      ("SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice FROM orders " +
        "WHERE o_orderpriority <> '5-LOW' " +
        "AND (o_orderpriority <> '2-HIGH' OR o_totalprice > 100000.0) " +
        "AND NOT (o_custkey % 50 = 0) ORDER BY o_orderkey"),
    "s26_sql_snapshot" ->
      ("SELECT o_orderstatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders WHERE NOT (o_totalprice < 50000.0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "s27_count_meta" ->
      "SELECT COUNT(*) AS n FROM orders WHERE NOT (o_totalprice < 50000.0)",
    "s28_stream_snapshot" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_orderkey"),
    "s29_sql_insert" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_custkey % 10 != 0 ORDER BY o_orderkey"),
    "s22_change_feed" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders), " +
        "src AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice " +
        "FROM base WHERE o_orderkey % 200 = 0) " +
        "SELECT * FROM (" +
        "SELECT *, 'insert' AS _change_type FROM base " +
        "UNION ALL SELECT *, 'insert' FROM src " +
        "UNION ALL SELECT *, 'delete' FROM base WHERE o_totalprice < 30000.0 " +
        "UNION ALL SELECT *, 'delete' FROM base " +
        "WHERE o_orderkey % 200 = 0 AND NOT (o_totalprice < 30000.0)" +
        ") ORDER BY o_orderkey, _change_type, o_orderstatus")
  )
}

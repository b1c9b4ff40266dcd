package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.batch.FeaturePipeline
import graft.serve.FeatureStore

/** Physical-plan regression gate: the shapes that make these operators
  * scale must survive refactors — pushdown reaching the parquet scan,
  * broadcast where a side is small, exactly one exchange where one is
  * designed, codegen fusion in the hot projections. Each assertion
  * pins a property a 1000-executor run depends on.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("point-lookup filter is pushed to the parquet scan") {
    val p = java.nio.file.Files.createTempDirectory("graft_plan_").toString + "/off"
    spark.range(100).select($"id".as("cc_num"), ($"id" * 2.0).as("amt"))
      .write.parquet(p)
    val plan = spark.read.parquet(p).filter($"cc_num" === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(cc_num), EqualTo(cc_num,7)"), plan)
  }

  test("cow discovery scan: predicate pushed down, only predicate columns read") {
    val t = java.nio.file.Files.createTempDirectory("graft_plan_cow_").toString
    val orders = Tables.load(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    graft.operators.Snapshots.commit(spark, t, orders.repartition(4))
    val files = graft.operators.Snapshots.filesAt(spark, t, 0L)
    val plan = executed(graft.operators.Snapshots
      .touchedFilesPlan(spark, t, files, $"o_totalprice" < 1000.0))
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), LessThan(o_totalprice,1000.0)"), plan)
    // 4-column table, 1-column discovery read (plus file metadata)
    assert(plan.contains("ReadSchema: struct<o_totalprice:double>"), plan)
  }

  test("column pruning reaches the scan for a 2-column projection") {
    val li = Tables.load(spark, sf0001, "lineitem").select($"l_orderkey", $"l_quantity")
    val plan = li.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("batch feature pipeline shuffles exactly once (shared card partition)") {
    val txns = Tables.load(spark, sf0001, "events").select(
      $"ts".as("trans_date_trans_time"), $"user_id".as("cc_num"),
      lit("grocery").as("category"), $"value".as("amt"), lit("F").as("gender"),
      lit(40.0).as("lat"), lit(-74.0).as("lon"), lit(1000L).as("city_pop"),
      to_timestamp(lit("1980-01-01 00:00:00")).as("dob"),
      lit(40.1).as("merch_lat"), lit(-74.1).as("merch_long"), lit(0).as("is_fraud"))
    val plan = executed(FeaturePipeline.features(txns))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    // the two range frames become two Window nodes but must share ONE
    // partition + sort (same key and ordering)
    val sorts = "\\+- Sort ".r.findAllIn(plan).length
    assert(sorts == 1, s"expected 1 shared sort, got $sorts:\n$plan")
  }

  test("bucketed tables: join on the bucket key runs with NO shuffle exchange") {
    // write both sides bucketed via the s15 query, then prove the
    // physical property it exists for: a sort-merge join on the bucket
    // key reads the buckets co-located — zero Exchange on either side
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      queries.NonSql.s15BucketedJoin(spark, sf0001).count() // writes the tables
      val j = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_customer"), $"o_custkey" === $"c_custkey")
      val plan = executed(j)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("salted skew join: result equals plain join, shuffle spreads the hot key") {
    import graft.operators.SkewJoin
    // 10k facts, 95% on one hot key — the shape AQE can't split past
    val fact = spark.range(10000)
      .select((when($"id" % 20 === 0, $"id" % 7).otherwise(lit(99L))).as("k"),
        $"id".as("payload"))
    val dim = spark.range(100).select($"id".as("k"), concat(lit("d"), $"id").as("name"))
    val salted = SkewJoin.saltedEquiJoin(fact, dim, Seq("k"), factor = 8)
      .select($"k", $"payload", $"name")
    val plain = fact.join(dim, Seq("k")).select($"k", $"payload", $"name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0,
      "salting changed the join result")
    // the physical shuffle must key on (k, __salt) so the hot key
    // spreads over `factor` reducers
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executed(SkewJoin.saltedEquiJoin(fact, dim, Seq("k"), 8))
      assert("hashpartitioning\\(k#\\d+L?, __salt".r.findFirstIn(plan).isDefined,
        s"shuffle does not carry the salt:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("bloomEquiJoin: the might_contain probe runs BELOW the fact exchange (scan stage)") {
    import graft.operators.SkewJoin
    val fact = Tables.load(spark, sf0001, "lineitem").select($"l_orderkey", $"l_quantity")
    val dim = Tables.load(spark, sf0001, "orders")
      .filter($"o_orderkey" % 97 === 0).select($"o_orderkey".as("l_orderkey"))
    // force the shuffle-join shape the operator is FOR (no broadcast)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val plan = executed(SkewJoin.bloomEquiJoin(fact, dim, "l_orderkey"))
      val probeAt = plan.indexOf("might_contain")
      assert(probeAt >= 0, s"no bloom probe in plan:\n$plan")
      // the tree prints top-down, fact branch first: the fact-side
      // exchange line precedes its child filter, so "probe below the
      // exchange" = the FIRST exchange prints before the FIRST probe,
      // and the probe's filter sits directly on the columnar scan
      val firstExchange = plan.indexOf("Exchange hashpartitioning")
      assert(firstExchange >= 0 && firstExchange < probeAt,
        s"bloom probe must be below the fact exchange (scan stage), plan:\n$plan")
      assert(plan.substring(probeAt).contains("ColumnarToRow"),
        s"probe filter must feed from the scan, plan:\n$plan")
    }
  }

  test("small-dimension join broadcasts (no shuffle of the big side)") {
    val orders = Tables.load(spark, sf0001, "orders")
    val nation = Tables.load(spark, sf0001, "nation")
    val cust = Tables.load(spark, sf0001, "customer")
    val j = orders.join(cust, $"o_custkey" === $"c_custkey")
      .join(nation, $"c_nationkey" === $"n_nationkey")
    val plan = executed(j)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sync scans the offline table once: one join, both counts in one aggregate") {
    val p = java.nio.file.Files.createTempDirectory("graft_plan2_").toString + "/off"
    spark.range(50).select($"id".as("cc_num"), ($"id" * 1.0).as("amt")).write.parquet(p)
    val fs = new FeatureStore(spark, p)
    val (synced, skipped) = fs.sync(Seq(1L, 2L).toDF("cc_num"))
    assert(synced == 2 && skipped == 48)
    val plan = executed(fs.syncFrame(Seq(1L, 2L).toDF("cc_num")))
    assert("Scan parquet".r.findAllIn(plan).length == 1, s"offline scanned twice:\n$plan")
    assert("Join".r.findAllIn(plan).length == 1, s"more than one join:\n$plan")
  }

  test("shingle generation is shuffle-free (no exchange before the signature agg)") {
    val docs = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    val plan = executed(graft.llm.Dedup.shingleRowsRaw(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"), s"shingling shuffles:\n$plan")
    assert(!plan.contains("Window"), s"shingling pays a sort-window:\n$plan")
  }

  test("int8 quantization is a single shuffle-free projection") {
    val e = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val plan = executed(graft.llm.Similarity.quantizeInt8(e, "vec_id", "embedding"))
    assert(!plan.contains("Exchange"), s"quantization shuffles:\n$plan")
  }

  test("simhash pair generation joins on band buckets, never a cartesian") {
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val plan = executed(graft.llm.Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(!plan.contains("CartesianProduct"), s"corpus-squared join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join:\n$plan")
  }

  test("tfidf broadcasts the 1-row corpus count, never the term table cross join") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    // the public plan is fully visible again (r11 removed the persist +
    // result checkpoint): audit tfidfTerms directly — corpus tokenized
    // once (one scan of docs for terms + one for the n_docs count),
    // 1-row corpus count broadcast, df attached by window not join
    val plan = executed(graft.llm.TextStats.tfidfTerms(docs, "doc_id", "text", 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"corpus count not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in tfidf:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"df joined back instead of windowed:\n$plan")
  }

  test("pivot scans once and partial-aggregates before any exchange") {
    val plan = executed(graft.queries.Relational.a16Pivot(spark, sf0001))
    assert("Scan parquet".r.findAllIn(plan).length == 1, s"multiple scans:\n$plan")
    // Spark's two-phase pivot (count → pivotfirst) exchanges twice, but
    // both exchanges carry only group rows: the raw scan must feed a
    // partial aggregate, never an exchange directly
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(!plan.matches("(?s).*Exchange[^\\n]*\\n[^\\n]*FileScan.*"),
      s"raw rows shuffled before aggregation:\n$plan")
  }

  test("ntile/percent_rank share one window sort") {
    val plan = executed(graft.queries.Relational.w7Ntile(spark, sf0001))
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 shared Window node, got $windows:\n$plan")
  }

  test("online-store TTL prunes ingest_date partitions at the scan") {
    import graft.schema.CardStats
    import graft.stream.OnlineStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_ttl_").toString + "/log"
    val store = new OnlineStore(spark, tmp, ttlSeconds = 3600)
    def cs(id: String, at: String) =
      CardStats(1L, id, 1.0, 1.0, 1L, 1.0, java.sql.Timestamp.valueOf(at))
    store.upsertBatch(Seq(cs("new", "2024-01-05 11:30:00"),
      cs("old", "2024-01-01 09:00:00")).toDS(), 0L)
    val now = java.sql.Timestamp.valueOf("2024-01-05 12:00:00").getTime / 1000
    val plan = executed(store.retained(now))
    assert("PartitionFilters: \\[[^\\]]*ingest_date[^\\]]*>=".r.findFirstIn(plan).isDefined,
      s"ingest_date bound missing from partition filters:\n$plan")
    assert(store.retained(now).select("txn_id").as[String].collect().toSeq == Seq("new"))
  }

  test("haversine feature projection stays in one codegen span") {
    val df = spark.range(1000).select(
      ($"id" % 89 - 44).cast("double").as("lat"),
      ($"id" % 179 - 89).cast("double").as("lon"))
    val out = df.select(graft.expr.HaversineMiles.native(
      $"lat", $"lon", lit(40.0), lit(-74.0)).as("d"))
      .filter($"d" > 0)
    val plan = executed(out)
    assert(plan.contains("*(1)"), s"no whole-stage codegen span:\n$plan")
  }

  test("ngram jaccard df-cap reuses the shingle exchange for the bucket groupBy") {
    val docs = Tables.load(spark, sf0001, "documents")
    val plan = executed(graft.llm.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", 0.5, maxShingleDf = 5))
    // the window's hashpartitioning(sh) feeds the bucket groupBy(sh)
    // without an extra exchange between them; the capped stream appears
    // in two branches (sizes + pairs), whose identical exchanges AQE
    // dedups at runtime via stage reuse — so at most 2 in the static plan
    val shExchanges = "Exchange hashpartitioning\\(sh".r.findAllIn(plan).length
    assert(shExchanges <= 2, s"df-cap window and bucket groupBy re-shuffle on sh:\n$plan")
  }
}

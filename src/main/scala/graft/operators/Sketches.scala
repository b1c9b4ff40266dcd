package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators — the incremental-analytics primitives a
  * 100 TB deployment runs INSTEAD of full rescans.
  *
  * The shape that matters at scale: raw events are scanned ONCE per
  * ingest slice (a day, an hour), reduced to a constant-size sketch row
  * per (group, slice), and every later question — "distinct users per
  * source this quarter?" — is answered by unioning kilobyte sketches,
  * never by touching the 100 TB again. Both sketches here are
  * order-independent and mergeable, so partial aggregation, AQE
  * re-planning, and incremental appends all compose exactly.
  *
  * HLL: Spark's Apache DataSketches HllSketch agg (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate` — SQL-native, codegen'd,
  * no UDF). CMS: Spark's CountMinSketch (`count_min_sketch` agg), point
  * lookups served from the driver-side deserialized sketch.
  */
object Sketches {

  /** One distinct-count sketch row per key group: the stored layout of
    * an incremental distinct-count table. `lgK` trades size for error
    * (lgK=12 → 4 KB / ~1.6% stderr). The sketch column is plain binary —
    * parquet round-trips it, so slices persist and reload freely. */
  def distinctSketchTable(df: DataFrame, keyCols: Seq[String],
      valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Roll a sketch table up to coarser keys by UNIONING sketches —
    * answers "distinct over any slice union" without re-reading rows.
    * `keepCols` empty → one global row. */
  def rollupDistinct(sketchTable: DataFrame,
      keepCols: Seq[String]): DataFrame = {
    val merged =
      if (keepCols.isEmpty)
        sketchTable.agg(hll_union_agg(col("sketch")).as("sketch"))
      else sketchTable.groupBy(keepCols.map(col): _*)
        .agg(hll_union_agg(col("sketch")).as("sketch"))
    merged.withColumn("distinct_est", hll_sketch_estimate(col("sketch")))
  }

  /** Merge a delta of sketch rows into a stored slice table: same-key
    * sketches UNION (HLL registers max-merge, so re-delivering a delta
    * is idempotent), new keys append. This is the maintenance op of the
    * incremental-distinct loop: a streaming `foreachBatch` sketches
    * each micro-batch with [[distinctSketchTable]] and merges the
    * result here — the stored table stays one 4 KB row per (group,
    * slice) forever, and no question ever re-reads raw history. */
  def mergeSliceTables(stored: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    // Single pass over the stored table: the delta pre-reduces to one
    // sketch per key, then a null-safe (<=>) full-outer join pairs it
    // with the stored row for that key. Untouched stored keys stream
    // through (delta side null), new delta keys append (stored side
    // null), collisions union via the two-argument `hll_union`. This
    // keeps the per-micro-batch cost O(stored + delta-keys) with ONE
    // stored-side scan — the earlier anti/semi split read it twice —
    // and <=> means a NULL key value merges as one key instead of
    // duplicating (plain-equality joins match NULL to nothing).
    // delta keys rename to __d_* so stored/delta stay unambiguous even
    // when both sides derive from the same source lineage (self-join)
    val deltaAgg = delta.groupBy(keyCols.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("delta_sketch"))
      .select(keyCols.map(c => col(c).as(s"__d_$c")) :+ col("delta_sketch"): _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _)
    val keyOut = keyCols.map(k => coalesce(col(k), col(s"__d_$k")).as(k))
    val sketchOut = when(col("sketch").isNull, col("delta_sketch"))
      .when(col("delta_sketch").isNull, col("sketch"))
      .otherwise(hll_union(col("sketch"), col("delta_sketch")))
      .as("sketch")
    stored.join(deltaAgg, cond, "full_outer")
      .select(keyOut :+ sketchOut: _*)
  }

  /** Build ONE count-min sketch over `valueCol` — a fixed-size frequency
    * summary answering point queries for ANY key with a one-sided error
    * (never under-counts; over-counts by ≤ eps·N with prob ≥ confidence).
    * Returns the serialized sketch (driver-scale: width×depth longs). */
  def cmsBuild(df: DataFrame, valueCol: String, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): Array[Byte] =
    df.agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence),
      lit(seed)).as("cms")).head().getAs[Array[Byte]](0)

  /** One count-min sketch row per key group — the CMS twin of
    * [[distinctSketchTable]]. All rows share (eps, confidence, seed),
    * so any subset of slices merges exactly via [[cmsMergeSlices]]:
    * CMS cells are counters, and counter addition is associative and
    * commutative, so slice-wise build + merge equals a one-shot build
    * over the concatenated rows. The sketch column is plain binary and
    * parquet round-trips, mirroring the HLL slice-table contract. */
  def cmsSliceTable(df: DataFrame, keyCols: Seq[String], valueCol: String,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence),
        lit(seed)).as("cms"))

  /** Merge serialized CMS slices into one sketch
    * (`CountMinSketch.mergeInPlace`, public Spark API). Driver-scale by
    * design: each slice is width×depth longs, and the caller hands the
    * kilobyte sketch rows, never raw data. Throws on shape/seed
    * mismatch (incompatible sketches cannot be merged meaningfully). */
  def cmsMergeSlices(slices: Seq[Array[Byte]]): Array[Byte] = {
    require(slices.nonEmpty, "cmsMergeSlices: no slices to merge")
    val merged = slices.map { b =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b))
    }.reduce { (a, b) => a.mergeInPlace(b); a }
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    out.toByteArray
  }

  /** Typed Aggregator merging serialized CMS blobs — the
    * `hll_union_agg` analogue Spark's SQL surface lacks for count-min.
    * Buffer is the serialized form (parquet-safe binary), merge is
    * `mergeInPlace`: associative + commutative counter addition, so
    * partial aggregation and AQE re-planning compose exactly like the
    * HLL path. Empty buffer = identity. */
  object CmsMergeAgg extends org.apache.spark.sql.expressions.Aggregator[
      Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Array.empty
    private def m(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else {
        val s1 = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(a))
        val s2 = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(b))
        s1.mergeInPlace(s2)
        val out = new java.io.ByteArrayOutputStream()
        s1.writeTo(out)
        out.toByteArray
      }
    /** Pairwise blob merge, exposed for the slice-table maintenance
      * join ([[cmsMergeSliceTables]]). */
    def merge2(a: Array[Byte], b: Array[Byte]): Array[Byte] = m(a, b)
    override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = m(buf, in)
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = m(b1, b2)
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** Roll a CMS slice table up to coarser keys DISTRIBUTED — the
    * [[rollupDistinct]] twin for frequency sketches: group-wise blob
    * merge via [[CmsMergeAgg]], no driver collect, no raw-row rescan.
    * `keepCols` empty → one global sketch row. */
  def cmsRollup(sliceTable: DataFrame, keepCols: Seq[String]): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(CmsMergeAgg)
    if (keepCols.isEmpty) sliceTable.agg(agg(col("cms")).as("cms"))
    else sliceTable.groupBy(keepCols.map(col): _*).agg(agg(col("cms")).as("cms"))
  }

  /** Merge a delta of CMS slice rows into a stored table — the
    * [[mergeSliceTables]] shape for frequency sketches: delta
    * pre-reduces per key, a null-safe full-outer join pairs it with
    * the stored row, collisions ADD counters. ONE stored-side scan.
    * NOTE the contract difference vs HLL: CMS cells are counters, so
    * re-delivering the same delta DOUBLE-COUNTS — drive this from an
    * exactly-once context (foreachBatch keyed by batchId), where the
    * engine guarantees each delta merges once. */
  def cmsMergeSliceTables(stored: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val merge2 = udf(CmsMergeAgg.merge2 _)
    val aggU = udaf(CmsMergeAgg)
    val deltaAgg = delta.groupBy(keyCols.map(col): _*)
      .agg(aggU(col("cms")).as("delta_cms"))
      .select(keyCols.map(c => col(c).as(s"__d_$c")) :+ col("delta_cms"): _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _)
    val keyOut = keyCols.map(k => coalesce(col(k), col(s"__d_$k")).as(k))
    val cmsOut = when(col("cms").isNull, col("delta_cms"))
      .when(col("delta_cms").isNull, col("cms"))
      .otherwise(merge2(col("cms"), col("delta_cms")))
      .as("cms")
    stored.join(deltaAgg, cond, "full_outer")
      .select(keyOut :+ cmsOut: _*)
  }

  // ---------------------------------------------------------------
  // KLL quantile sketches — the third leg of the sketch-table stack:
  // HLL answers "how many distinct", CMS answers "how often", KLL
  // answers "what distribution" (p50/p90/p99) from the same
  // scan-once / merge-forever layout. Backed by Apache DataSketches
  // KllDoublesSketch (bundled with Spark for its hll_* functions):
  // mergeable with a PROVEN normalized-rank error (~1.65% at k=200,
  // 99% confidence), constant size, binary-serializable, so slices
  // parquet round-trip exactly like the HLL/CMS tables.
  // ---------------------------------------------------------------

  private def kllFrom(b: Array[Byte]): org.apache.datasketches.kll.KllDoublesSketch =
    org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(b))

  /** Typed Aggregator merging serialized KLL blobs — the group-wise
    * quantile-union Spark's SQL surface lacks. Merge is item-weight
    * addition (associative + commutative), so partial aggregation and
    * AQE re-planning compose; compaction draws random coins, so bytes
    * are run-varying but every estimate stays inside the k-bounded
    * rank error. Empty buffer = identity. */
  object KllMergeAgg extends org.apache.spark.sql.expressions.Aggregator[
      Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Array.empty
    private def m(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else {
        val s1 = kllFrom(a)
        s1.merge(kllFrom(b))
        s1.toByteArray
      }
    /** Pairwise blob merge for the slice-table maintenance join. */
    def merge2(a: Array[Byte], b: Array[Byte]): Array[Byte] = m(a, b)
    override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = m(buf, in)
    override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = m(b1, b2)
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** One KLL quantile-sketch row per key group — the quantile twin of
    * [[distinctSketchTable]]/[[cmsSliceTable]]. Values stream into a
    * per-(key, partition) sketch inside `mapPartitions` (a hand-rolled
    * map-side combine: the shuffle carries one ~3 KB blob per key per
    * partition, never raw values — a per-row blob aggregator would
    * pay a serialize/deserialize round trip PER ROW), then same-key
    * partials merge via [[KllMergeAgg]]. NULL values are skipped
    * (SQL aggregate semantics); a key whose values are all NULL still
    * yields a row with an empty sketch. */
  def kllSliceTable(df: DataFrame, keyCols: Seq[String], valueCol: String,
      k: Int = 200): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val proj = df.select(keyCols.map(col) :+ col(valueCol).cast("double").as("__v"): _*)
    val nKeys = keyCols.length
    val outSchema = StructType(
      proj.schema.fields.take(nKeys) :+ StructField("kll", BinaryType, nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val partials = proj.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[Seq[Any], org.apache.datasketches.kll.KllDoublesSketch]
      it.foreach { r =>
        val key = (0 until nKeys).map(r.get)
        val sk = acc.getOrElseUpdate(key,
          org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k))
        if (!r.isNullAt(nKeys)) sk.update(r.getDouble(nKeys))
      }
      acc.iterator.map { case (key, sk) => Row.fromSeq(key :+ sk.toByteArray) }
    }
    val aggU = udaf(KllMergeAgg)
    partials.groupBy(keyCols.map(col): _*).agg(aggU(col("kll")).as("kll"))
  }

  /** Roll a KLL slice table up to coarser keys DISTRIBUTED — group-wise
    * blob merge, then estimate the requested quantiles as columns
    * (`q50`, `q99`, … — the probability ×100, trailing zeros trimmed
    * at the .5 grain). `keepCols` empty → one global row. Answers
    * "p99 latency per source this quarter" from kilobyte rows without
    * re-reading raw history. */
  def kllRollup(sliceTable: DataFrame, keepCols: Seq[String],
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val aggU = udaf(KllMergeAgg)
    val merged =
      if (keepCols.isEmpty) sliceTable.agg(aggU(col("kll")).as("kll"))
      else sliceTable.groupBy(keepCols.map(col): _*).agg(aggU(col("kll")).as("kll"))
    // ONE udf call per row computes every quantile from ONE heapify;
    // nondeterministic stops CollapseProject from inlining (and thus
    // re-evaluating) the udf once per extracted column
    val ps = probs.toArray
    val qsUdf = udf { (b: Array[Byte]) =>
      if (b == null || b.isEmpty) None
      else {
        val sk = kllFrom(b)
        if (sk.isEmpty) None
        else Some(ps.map(p => sk.getQuantile(p,
          org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)))
      }
    }.asNondeterministic()
    val withQs = merged.withColumn("__qs", qsUdf(col("kll")))
    val named = probs.zipWithIndex.foldLeft(withQs) { case (acc, (p, i)) =>
      // setScale before strip: 0.99*100 is 99.00000000000001 in IEEE
      val name = "q" + BigDecimal(p * 100)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString.replace(".", "_")
      acc.withColumn(name, element_at(col("__qs"), i + 1))
    }
    named.drop("__qs")
  }

  /** Merge a delta of KLL slice rows into a stored table — the
    * [[mergeSliceTables]] shape for quantile sketches: delta
    * pre-reduces per key, a null-safe full-outer join pairs it with
    * the stored row, collisions merge item weights. ONE stored-side
    * scan. Same contract as CMS (weights ADD): re-delivering a delta
    * double-weights it, so drive this from an exactly-once context
    * (foreachBatch keyed by batchId). */
  def kllMergeSliceTables(stored: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val merge2 = udf(KllMergeAgg.merge2 _)
    val aggU = udaf(KllMergeAgg)
    val deltaAgg = delta.groupBy(keyCols.map(col): _*)
      .agg(aggU(col("kll")).as("delta_kll"))
      .select(keyCols.map(c => col(c).as(s"__d_$c")) :+ col("delta_kll"): _*)
    val cond = keyCols.map(k => col(k) <=> col(s"__d_$k")).reduce(_ && _)
    val keyOut = keyCols.map(k => coalesce(col(k), col(s"__d_$k")).as(k))
    val kllOut = when(col("kll").isNull, col("delta_kll"))
      .when(col("delta_kll").isNull, col("kll"))
      .otherwise(merge2(col("kll"), col("delta_kll")))
      .as("kll")
    stored.join(deltaAgg, cond, "full_outer")
      .select(keyOut :+ kllOut: _*)
  }

  /** Point-estimate frequencies for `keys` from a serialized sketch.
    * Addition is commutative, so the estimates are deterministic
    * across partition orders — only the (sketch-bounded) collision
    * error is data-dependent. */
  def cmsEstimates(sketch: Array[Byte], keys: Seq[Long]): Seq[(Long, Long)] = {
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketch))
    keys.map(k => k -> cms.estimateCount(k))
  }
}

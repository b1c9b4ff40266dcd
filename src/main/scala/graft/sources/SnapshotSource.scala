package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Snapshots

/** SQL surface for snapshot tables — two DataSourceV2 entry points over
  * the same engine read path ([[Snapshots.read]], deletion vectors and
  * all):
  *
  *   - `spark.read.format("graft-snapshot").option("versionAsOf", 7)
  *     .load(path)` — the path-based reader, options `versionAsOf` /
  *     `timestampAsOf` (epoch millis or `yyyy-MM-dd HH:mm:ss` UTC);
  *   - a [[SnapshotCatalog]] registered as
  *     `spark.sql.catalog.<name> = graft.sources.SnapshotCatalog`
  *     (+ optional `spark.sql.catalog.<name>.root = /base/dir`), giving
  *     native SQL time travel: `SELECT * FROM <name>.tbl VERSION AS OF
  *     7` / `TIMESTAMP AS OF '...'` — the Spark grammar routes those
  *     clauses to `TableCatalog.loadTable(ident, version|timestamp)`.
  *
  * Execution: the table is backed by the ENGINE's own DataFrame plan.
  * At scan build the pushed column pruning and filters are applied to
  * that plan (so the parquet scans inside still get `ReadSchema` /
  * `PushedFilters`, and the DV bitmap probe stays in the scan's
  * codegen span), then the optimized plan's `toRdd` partitions are
  * served through the DSv2 reader one-to-one. Planning runs
  * driver-side, where any broadcast/shuffle stages of the inner plan
  * are materialized (AQE executes intermediate stages eagerly);
  * snapshot read plans are scan-shaped — no shuffle — so per-partition
  * compute on the executors is narrow. Every pushed filter is ALSO
  * re-applied by Spark above the scan (pushFilters reports them all as
  * residual), so a conversion gap can never change results.
  *
  * Reference counterpart: the feature store reads its offline parquet
  * straight by path (`batch_processing.py:52`); this provider is the
  * versioned, SQL-addressable replacement.
  */
class SnapshotProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def resolve(options: CaseInsensitiveStringMap): (String, Long) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-snapshot: 'path' is required"))
    (path, SnapshotSource.resolveVersion(SparkSession.active, path,
      Option(options.get("versionAsOf")).orElse(Option(options.get("version"))),
      Option(options.get("timestampAsOf"))))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (path, v) = resolve(options)
    val base =
      if (v < 0L) SnapshotSource.declaredSchemaOf(SparkSession.active, path).get
      else Snapshots.read(SparkSession.active, path, Some(v)).schema
    if (SnapshotSource.isCdc(options)) SnapshotSource.withChangeType(base) else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (path, v) = resolve(opts)
    val pinned = opts.containsKey("versionAsOf") || opts.containsKey("version") ||
      opts.containsKey("timestampAsOf")
    new SnapshotV2Table(path, v, SnapshotSource.isCdc(opts), writable = !pinned,
      declaredSchema = if (v < 0L)
        SnapshotSource.declaredSchemaOf(SparkSession.active, path) else None)
  }
}

private[sources] object SnapshotSource {
  /** Resolve the pinned version from explicit `versionAsOf` /
    * `timestampAsOf` options (latest when neither is given). Pinning
    * happens ONCE at table resolution, so a query plan holding the
    * table is a consistent snapshot regardless of later commits. */
  def resolveVersion(spark: SparkSession, path: String,
      versionAsOf: Option[String], timestampAsOf: Option[String]): Long = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "graft-snapshot: versionAsOf and timestampAsOf are exclusive")
    versionAsOf.map(_.toLong).orElse(
      timestampAsOf.map(t => versionAtTimestamp(spark, path, parseTsMillis(t))))
      .getOrElse(Snapshots.latestVersion(spark, path).getOrElse {
        // a CREATE'd-but-never-committed table resolves to -1 (its
        // declared schema stands in; scans are empty, streams idle)
        if (declaredSchemaOf(spark, path).isDefined) -1L
        else throw new IllegalArgumentException(s"no snapshot committed at $path")
      })
  }

  /** Declared schema of a CREATE'd table with no commit yet (recorded
    * by [[SnapshotCatalog.createTable]] as a reserved property). */
  def declaredSchemaOf(spark: SparkSession, path: String): Option[StructType] =
    graft.operators.Snapshots.properties(spark, path)
      .get(SnapshotCatalog.schemaProp).map(StructType.fromDDL)

  def parseTsMillis(t: String): Long =
    t.toLongOption.getOrElse {
      val norm = if (t.contains(' ')) t.replace(' ', 'T') else t
      val ldt =
        if (norm.length <= 10) java.time.LocalDate.parse(norm).atStartOfDay()
        else java.time.LocalDateTime.parse(norm)
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Newest version committed at-or-before `tsMillis` (the
    * [[Snapshots.readAsOf]] rule, resolved to a version number). */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val vs = Snapshots.versions(spark, path)
    require(vs.nonEmpty, s"no snapshot committed at $path")
    Snapshots.history(spark, path)
      .where(col("ts") <= lit(tsMillis))
      .agg(org.apache.spark.sql.functions.max(col("version")))
      .head() match {
      case r if r.isNullAt(0) => throw new IllegalArgumentException(
        s"timestampAsOf $tsMillis predates the first retained commit of $path")
      case r => r.getLong(0)
    }
  }

  /** `readChangeFeed` option: batch AND streaming reads emit the
    * change-data feed ([[Snapshots.changeFeed]] — every row change
    * with a `_change_type` column) instead of current rows. */
  def isCdc(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.equalsIgnoreCase("true"))

  def withChangeType(base: StructType): StructType =
    base.add("_change_type", org.apache.spark.sql.types.StringType,
      nullable = false)

  /** The AND of every convertible pushed filter (`true` when none) —
    * the predicate a scan hands to [[Snapshots.read]], which derives
    * its manifest-level skipping from it. */
  def predicate(filters: Seq[sources.Filter]): Column =
    filters.flatMap(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))

  /** Best-effort `sources.Filter` → `Column` conversion for pushing
    * into the inner plan. `None` = not convertible (the filter is
    * still applied by Spark above the scan either way). */
  def filterToColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(not)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** A pinned (table, version) as a DSv2 table. Batch reads serve the
  * pinned version; a streaming read uses the pin only for schema — its
  * offsets track the live log ([[SnapshotMicroBatchStream]]). Writes
  * (`INSERT INTO` / `INSERT OVERWRITE` / dynamic partition overwrite)
  * route through the engine's commit protocol and are only offered on
  * a LIVE table handle (`writable`): an explicitly time-traveled load
  * must not append past its pin, and a change-feed table is a
  * derivation, not a base relation. */
class SnapshotV2Table(path: String, version: Long, cdc: Boolean = false,
    writable: Boolean = false, declaredSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  override def name(): String = s"graft-snapshot:$path@v$version"
  override lazy val schema: StructType = {
    // version -1 = a CREATE'd table with no commit yet: the declared
    // schema stands in until real files exist
    val base = declaredSchema.getOrElse(
      Snapshots.read(SparkSession.active, path, Some(version)).schema)
    if (cdc) SnapshotSource.withChangeType(base) else base
  }
  // registered partition columns surface as identity transforms —
  // DESCRIBE-style metadata for SQL users (pruning itself happens at
  // the manifest level inside the engine read); lazy like `schema`:
  // Spark may ask repeatedly during analysis and the column set is
  // create-time immutable
  override lazy val partitioning: Array[Transform] =
    Snapshots.partitionColumnsOf(SparkSession.active, path)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    if (!cdc) {
      // the write lands through InsertableRelation (V1_BATCH_WRITE):
      // the engine's commit(df) IS the transaction, so the v1 fallback
      // (one DataFrame in, one atomic manifest rename out) is the
      // honest shape, not a limitation. BATCH_WRITE is advertised too —
      // DataFrameWriter.save's v2 path gates on it specifically — and
      // the planner still picks the V1 exec from the Write's type.
      // Advertised even on a pinned handle so a misdirected write
      // reaches newWriteBuilder's specific "not writable" error instead
      // of a generic fallback. Dynamic partition overwrite is NOT
      // advertised: the V1 fallback cannot plan
      // OverwritePartitionsDynamic, so SQL refuses it loudly at
      // analysis — use Snapshots.overwritePartitions.
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
    }
    caps
  }
  // engine table properties surface through SHOW TBLPROPERTIES /
  // DESCRIBE TABLE EXTENDED — the property log is the source of truth
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    Snapshots.properties(SparkSession.active, path)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // cdc is a TABLE-level shape (it adds the _change_type column to
    // the negotiated schema), so it comes from the provider options,
    // not the per-scan ones
    new SnapshotScanBuilder(path, version, schema, cdc, options)

  /** `DELETE FROM … WHERE …`: merge-on-read by default (a deletion
    * vector commit — deletion-locality-sized, streams as CDF
    * retractions), or copy-on-write when the table property
    * `delete.mode = cow` asks for rewrite semantics. Only conditions
    * fully translatable to source filters qualify (`canDeleteWhere`);
    * anything else — subqueries, expressions past the Filter algebra —
    * is refused loudly at analysis rather than half-applied. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    writable && !cdc &&
      filters.forall(f => SnapshotSource.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val spark = SparkSession.active
    val cond = SnapshotSource.predicate(filters.toSeq)
    val cow = Snapshots.properties(spark, path)
      .get("delete.mode").exists(_.equalsIgnoreCase("cow"))
    if (cow) Snapshots.deleteWhere(spark, path, cond)
    else Snapshots.deleteWhereMor(spark, path, cond): Unit
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    require(writable && !cdc,
      s"graft-snapshot: $name is not writable — a time-traveled or " +
        "change-feed handle cannot accept inserts; load the live table " +
        "(no versionAsOf/timestampAsOf/readChangeFeed) or use the " +
        "Snapshots API")
    new SnapshotWriteBuilder(path)
  }
}

/** `INSERT INTO` → append commit; `INSERT OVERWRITE` (static) →
  * overwrite commit. Constraints, the append-only guard, partition
  * layout, and footer stats all apply — the SQL write is the same
  * commit every other writer makes. (Dynamic partition overwrite is a
  * Scala-API operation, [[Snapshots.overwritePartitions]]: the V1
  * write fallback cannot plan it, and advertising the capability would
  * trade a loud analysis error for a wrong static truncate.) */
class SnapshotWriteBuilder(path: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var overwrite = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: sources.InsertableRelation =
        new sources.InsertableRelation {
          override def insert(data: DataFrame, ow: Boolean): Unit =
            Snapshots.commit(data.sparkSession, path, data,
              overwrite = overwrite || ow): Unit
        }
    }
}

class SnapshotScanBuilder(path: String, version: Long, full: StructType,
    cdc: Boolean, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[sources.Filter] = Array.empty
  private var pushedCount: Option[Long] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty prune (COUNT(*) shapes) keeps one narrow column so the
    // inner plan stays a valid projection
    required = if (requiredSchema.fields.isEmpty)
      StructType(full.fields.take(1)) else requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(f => SnapshotSource.filterToColumn(f).isDefined)
    filters // ALL filters stay residual — Spark re-applies them above the scan
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  /** Metadata-only COUNT(*): an unfiltered, ungrouped `SELECT COUNT(*)`
    * through the SQL surface is answered from the manifests' per-file
    * row counts minus standing deletion vectors ([[Snapshots.countAt]])
    * — ZERO data files opened. Guarded to the exactly-answerable case:
    * no residual filters can exist when Spark attempts aggregate
    * pushdown (and this source keeps every filter residual, so any
    * WHERE disables it), not a change feed, a real committed version,
    * and every visible file has commit-time stats (else countAt is
    * None and the scan falls back to counting data rows). */
  private def countStarOnly(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions().isEmpty && agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  private lazy val metaCount: Option[Long] =
    if (cdc || version < 0L || pushed.nonEmpty) None
    else Snapshots.countAt(SparkSession.active, path, Some(version))

  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countStarOnly(agg) && metaCount.isDefined

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countStarOnly(agg) && metaCount.isDefined && {
      pushedCount = metaCount; true
    }

  override def build(): Scan = {
    val spark = SparkSession.active
    pushedCount.foreach { n =>
      // complete aggregate pushdown: the scan IS the 1-row result
      val countSchema = StructType(Seq(org.apache.spark.sql.types.StructField(
        "count(*)", org.apache.spark.sql.types.LongType, nullable = false)))
      val mk = () => SparkSession.active.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(n)), countSchema)
      return new SnapshotScan(countSchema,
        s"graft-snapshot $path v$version aggPushed=[count(*)]",
        mk, SnapshotStreamConfig(path, cdc, None, None), Seq.empty,
        () => Some(1L))
    }
    val where = SnapshotSource.predicate(pushed.toSeq)
    // the batch plan is a thunk: a pure streaming scan never builds it
    val mkBatch = () => {
      val df =
        if (version < 0L) {
          // CREATE'd, never committed: an empty relation of the
          // declared shape (a later commit is a NEW table resolution)
          spark.createDataFrame(new util.ArrayList[org.apache.spark.sql.Row](), full)
        } else if (cdc) {
          // batch CDF read: inclusive [startingVersion, endingVersion]
          // (Delta's option names), defaults = the whole retained log
          // up to the pinned version. 'latest' (valid on the STREAMING
          // path: "only changes after now") maps to the pinned version
          // — an empty feed — instead of a raw NumberFormatException;
          // any other non-numeric value fails with the option named.
          def parseV(opt: String, v: String): Long =
            try v.toLong catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"option $opt: expected a version number or 'latest', got '$v'")
            }
          val from = Option(options.get("startingVersion"))
            .map(v => if (v == "latest") version else parseV("startingVersion", v) - 1L)
            .getOrElse(-1L)
          val to = Option(options.get("endingVersion"))
            .map(v => if (v == "latest") version else parseV("endingVersion", v))
            .getOrElse(version)
          Snapshots.changeFeed(spark, path, from, to).where(where)
        } else {
          // manifest-level skipping: the pushed predicate's partition
          // and stats hints shrink the planned FILE LIST before any task
          // is scheduled (zero data files opened to decide)
          Snapshots.read(spark, path, Some(version), where)
        }
      df.select(required.fieldNames.map(col).toIndexedSeq: _*)
    }
    val cfg = SnapshotStreamConfig(path, cdc,
      Option(options.get("startingVersion")),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
    // row estimate for the planner (join sizing): the manifests'
    // DV-blind row total — exact without DVs, a slight over-estimate
    // with them (conservative for broadcast decisions). Pure cached
    // log fold; None (unknown) for CDC shapes, uncommitted tables, or
    // pre-stats files.
    val rowEstimate = () =>
      if (cdc || version < 0L) None
      else Snapshots.fileRowTotalAt(SparkSession.active, path, version)
    new SnapshotScan(required,
      s"graft-snapshot $path v$version" +
        (if (cdc || version < 0L) ""
        else Snapshots.describeSkipping(spark, path, version, where)),
      mkBatch, cfg, pushed.toSeq, rowEstimate)
  }
}

/** Serves the inner DataFrame's executed-plan RDD partitions through
  * the DSv2 reader, one input partition per RDD partition; the same
  * scan exposes the micro-batch stream ([[SnapshotMicroBatchStream]]),
  * which re-plans a fresh inner DataFrame per offset range. */
class SnapshotScan(schema: StructType, desc: String,
    mkBatch: () => DataFrame, streamCfg: SnapshotStreamConfig,
    pushed: Seq[sources.Filter],
    rowEstimate: () => Option[Long] = () => None) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def description(): String = desc

  /** Manifest-derived estimates for the planner ([[Snapshots]]
    * records per-file row counts at commit): numRows from the cached
    * log fold, without listing or opening any data file. sizeInBytes
    * is unknown, so the planner prices the scan at
    * `spark.sql.defaultSizeInBytes` and never broadcasts it on a
    * guess: rows x the schema's default row width priced a string at
    * 20 bytes and could broadcast a text-heavy table. The log records
    * no file sizes to do better. numRows is unknown too when stats are
    * unavailable. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val rows = rowEstimate()
      override def numRows(): java.util.OptionalLong = rows
        .map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  override def toBatch: Batch = new Batch {
    // planning runs driver-side: the optimized physical plan compiles
    // here (and AQE materializes any intermediate stages eagerly), so
    // executor-side compute is narrow
    private lazy val rdd: RDD[InternalRow] = {
      val r = mkBatch().queryExecution.toRdd
      SnapshotScan.materialize(r)
      r
    }
    override def planInputPartitions(): Array[InputPartition] =
      rdd.partitions.map(p => SnapshotInputPartition(p))
    override def createReaderFactory(): PartitionReaderFactory =
      new SnapshotReaderFactory(rdd)
  }

  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotMicroBatchStream(streamCfg, schema, pushed)
}

object SnapshotScan {
  /** Force the lineage's `dependencies` (a non-transient lazy field)
    * on the DRIVER: the factory ships the RDD graph by plain Java
    * serialization, and an executor-side `getDependencies` recompute
    * would touch `partitions` of RDDs whose partition lists are
    * `@transient` (FileScanRDD). A normal task binary ships the same
    * graph with dependencies already materialized by the scheduler —
    * this reproduces that state. */
  private[sources] def materialize(r: RDD[_]): Unit = {
    r.partitions
    r.dependencies.foreach(d => materialize(d.rdd))
  }
}

case class SnapshotInputPartition(part: org.apache.spark.Partition)
  extends InputPartition

class SnapshotReaderFactory(rdd: RDD[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val it = rdd.compute(
      partition.asInstanceOf[SnapshotInputPartition].part, TaskContext.get())
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Read-only [[TableCatalog]] over a directory of snapshot tables —
  * the native-SQL entry: register once,
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.SnapshotCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/tables")
  *   spark.sql("SELECT * FROM graft.events VERSION AS OF 7")
  *   spark.sql("SELECT * FROM graft.events TIMESTAMP AS OF '2026-01-01'")
  * }}}
  * Identifiers resolve under `root` (namespace segments become path
  * segments); an absolute identifier (backquoted `/abs/path`) bypasses
  * root. Time travel maps straight onto the log: `VERSION AS OF` pins
  * that manifest version, `TIMESTAMP AS OF` resolves the newest commit
  * at-or-before the timestamp (Spark hands it down in MICROseconds).
  * `INSERT INTO` / `INSERT OVERWRITE` land through the table's write
  * builder — the same manifest commit every other writer makes.
  * DYNAMIC partition overwrite is refused at analysis (the table does
  * not advertise the capability); route partition refreshes to
  * [[Snapshots.overwritePartitions]], whose replace commit is atomic.
  * DDL: CREATE/CTAS (identity partition transforms only), DROP, and
  * ALTER … SET/UNSET TBLPROPERTIES are served; schema/partition ALTERs
  * and RENAME are refused — layout is create-time, and every mutation
  * lands through the [[Snapshots]] manifest commit. */
class SnapshotCatalog extends TableCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private var root: Option[String] = None

  /** Iceberg-style maintenance procedures: `CALL <cat>.system.vacuum
    * ('tbl', 3)`, `compact_small`, `optimize` (z-order rewrite),
    * `purge_deletes`, `checkpoint`, `dv_stats`, `history` — each routes
    * to the same [[Snapshots]] entry point every other caller uses and
    * returns its footprint as rows. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ns = ident.namespace()
    require(ns.isEmpty || ns.sameElements(Array("system")),
      s"SnapshotCatalog: procedures live in the 'system' namespace, got " +
        ns.mkString("."))
    SnapshotProcedures.load(ident.name(),
      n => pathOf(Identifier.of(Array.empty[String], n)))
      .getOrElse(throw new IllegalArgumentException(
        s"SnapshotCatalog: no procedure '${ident.name()}' — available: " +
          SnapshotProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SnapshotProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
  }
  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    val segs = ident.namespace().toSeq :+ ident.name()
    val joined = segs.mkString("/")
    if (joined.startsWith("/") || joined.contains(":/")) joined
    else root.map(r => s"$r/$joined").getOrElse(throw new IllegalArgumentException(
      s"catalog $catalogName has no 'root' option — use an absolute " +
        s"identifier (backquoted path) or set spark.sql.catalog.$catalogName.root"))
  }

  private def spark = SparkSession.active

  override def tableExists(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    Snapshots.latestVersion(spark, p).isDefined ||
      Snapshots.properties(spark, p).contains(SnapshotCatalog.schemaProp)
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    // the live handle accepts INSERT INTO / INSERT OVERWRITE; the
    // time-traveled loads below stay read-only
    Snapshots.latestVersion(spark, p) match {
      case Some(v) => new SnapshotV2Table(p, v, writable = true)
      case None =>
        // a CREATE'd-but-not-yet-written table: schema lives in the
        // declared property until the first commit materializes it
        val declared = Snapshots.properties(spark, p)
          .get(SnapshotCatalog.schemaProp)
          .map(j => StructType.fromDDL(j))
          .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchTableException(ident))
        new SnapshotV2Table(p, -1L, writable = true,
          declaredSchema = Some(declared))
    }
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    new SnapshotV2Table(p, version.toLong)
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    // the DSv2 time-travel contract hands micros since epoch
    new SnapshotV2Table(p,
      SnapshotSource.versionAtTimestamp(spark, p, timestamp / 1000L))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = root.map(r => (r +: namespace.toSeq).mkString("/")).getOrElse(
      return Array.empty)
    val p = new org.apache.hadoop.fs.Path(base)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return Array.empty
    f.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => f.exists(new org.apache.hadoop.fs.Path(d, "_graft_log")))
      .map(d => Identifier.of(namespace, d.getName))
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"SnapshotCatalog accepts no DDL: $op goes through the graft." +
        "operators.Snapshots API (setPartitionColumns/setStatsColumns/" +
        "addConstraint/vacuum...), whose manifest rename is the " +
        "transaction; INSERT INTO/OVERWRITE work through SQL")
  /** `CREATE TABLE` (and the create half of CTAS): registers partition
    * columns (identity transforms only — the engine partitions by
    * column value, Delta's contract) and user TBLPROPERTIES through
    * the engine's property log, and records the declared schema as a
    * reserved property so the empty table is loadable before its first
    * commit (the first commit's files take over as schema of record). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        t.references()(0).fieldNames()(0)
      case t => throw new UnsupportedOperationException(
        s"SnapshotCatalog: only identity partition transforms are " +
          s"supported (got $t) — bucket/days/hours layouts go through " +
          "Layout.zorderBy / Snapshots.compactLatest clustering")
    }
    if (partCols.nonEmpty) Snapshots.setPartitionColumns(spark, p, partCols)
    // user TBLPROPERTIES land in the engine property log (so e.g.
    // TBLPROPERTIES ('streaming'='append_only') arms the real guard);
    // Spark's bookkeeping keys are skipped
    val reserved = Set("provider", "location", "owner", "external",
      "option.path", "path")
    properties.asScala.filterNot { case (k, _) => reserved(k) }
      .foreach { case (k, v) => Snapshots.setProperty(spark, p, k, v) }
    Snapshots.setProperty(spark, p, SnapshotCatalog.schemaProp, schema.toDDL)
    new SnapshotV2Table(p, -1L, writable = true, declaredSchema = Some(schema))
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`: routes to the engine
    * property log (so `SET TBLPROPERTIES('streaming'='append_only')`
    * arms the real commit gate, `'delete.mode'='cow'` switches SQL
    * DELETE semantics). Schema and partition changes stay refused —
    * schema evolution is mergeSchema at read, layout is create-time. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = pathOf(ident)
    changes.foreach {
      case s: TableChange.SetProperty =>
        Snapshots.setProperty(spark, p, s.property, s.value)
      case r: TableChange.RemoveProperty =>
        Snapshots.unsetProperty(spark, p, r.property)
      case c => readOnly(s"ALTER TABLE ($c)")
    }
    loadTable(ident)
  }

  /** `DROP TABLE`: removes the table directory (data, DV sidecars, and
    * the whole commit log) and invalidates the state caches. */
  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!tableExists(ident)) return false
    val hp = new org.apache.hadoop.fs.Path(p)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.invalidateCaches(p)
    f.delete(hp, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")
}

object SnapshotCatalog {
  /** Reserved property carrying a CREATE'd table's declared schema
    * (DDL string) until the first commit materializes real files. */
  val schemaProp = "catalog.created.schema"
}

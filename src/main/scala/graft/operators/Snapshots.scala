package graft.operators

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot-versioned parquet tables: the metadata layer a 100 TB table
  * needs for ATOMIC commits, time travel, and safe concurrent readers —
  * the same contract Delta/Iceberg provide, built from two primitives a
  * distributed FS already has: immutable data files and an atomic
  * manifest rename.
  *
  * Layout:
  * {{{
  *   table/data/c<version>-<uuid>/part-*.parquet   (immutable, per commit)
  *   table/dv/d-<uuid>/part-*.parquet              (deletion-vector sidecars)
  *   table/_graft_log/v<00000000001>.json          (one manifest per version)
  * }}}
  *
  * Each manifest records the commit's `action` (`append` | `overwrite`
  * | `replace` (copy-on-write DML) | `dv` (merge-on-read deletion
  * vectors)) and the files it ADDED; version v's visible state folds
  * the log: an overwrite resets it, appends accumulate, replaces swap
  * rewritten files in place, dv commits attach deletion-vector
  * sidecars readers subtract at scan time. Readers resolve a
  * version to a file list (driver-side, manifest-scale — the same
  * budget every planner's split enumeration holds) and scan ONLY those
  * files, so a reader pinned to v is untouched by later commits: writes
  * never mutate data files, and the manifest rename is the commit
  * point. Writers race on the rename — the loser re-reads the log and
  * retries at the next version (optimistic concurrency; rename-if-
  * absent is atomic on HDFS-like stores and local FS).
  *
  * At scale the log stays tiny (file PATHS, not data), folding it is
  * O(versions) driver work, and the file lists feed straight into
  * [[Layout.zoneMapFiles]] / [[Layout.prunedParquet]] — snapshot
  * isolation and data skipping compose. `vacuum` deletes data files
  * unreachable from the retained versions (time travel beyond the
  * retention horizon then fails LOUDLY on the missing manifest, never
  * silently on missing data).
  *
  * Reference counterpart: the feature store's offline parquet tables
  * are overwritten in place (`batch_processing.py` mode="overwrite"),
  * so a serving read racing a refresh sees partial data — this layer is
  * the engine-grade replacement.
  */
object Snapshots {
  private val mapper = new ObjectMapper()

  /** Test seam: runs after a commit's data files are durably written
    * and before its first manifest-create attempt — the window a
    * racing writer's commit can land in. Specs inject a deterministic
    * concurrent commit here to exercise the conflict checks; no-op in
    * production. */
  private[graft] var raceHook: () => Unit = () => ()

  /** Create `target` with `bytes` if-and-only-if it does not exist;
    * returns false when another writer holds the slot. This IS the
    * commit point, so creation must be ATOMIC under contention:
    *   - HDFS-like stores: `create(overwrite = false)` is an atomic
    *     namespace operation — used directly;
    *   - local/POSIX paths (tests, NFS-mounted shared dirs): Hadoop's
    *     LocalFileSystem `create` is CHECK-THEN-ACT (two racing writers
    *     can both pass the exists check and one silently clobbers the
    *     other) — instead the content is staged to a temp file and
    *     HARD-LINKED into place: `link(2)` atomically fails with EEXIST
    *     if the slot is taken, and the target carries its full content
    *     the instant it appears (no half-written manifest window). */
  private def createExclusive(f: org.apache.hadoop.fs.FileSystem,
      target: Path, bytes: Array[Byte]): Boolean = {
    val scheme = Option(target.toUri.getScheme)
      .orElse(Option(f.getUri.getScheme)).getOrElse("file")
    if (scheme == "file") {
      val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID().toString.take(12)}")
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      val qualify = (p: Path) =>
        java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath)
      try {
        java.nio.file.Files.createLink(qualify(target), qualify(tmp)); true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally f.delete(tmp, false)
    } else {
      try {
        val out = f.create(target, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: java.io.IOException if f.exists(target) => false
      }
    }
  }

  /** Atomically REPLACE `target`'s content — the maintenance twin of
    * [[createExclusive]], for files that legitimately already exist
    * (the log-fold checkpoint sidecar, the vacuum horizon rewrite).
    * The content is staged to a temp file in the same directory and
    * MOVED into place, so a concurrent reader observes either the old
    * complete content or the new complete content, never a torn write:
    * POSIX rename (local paths) and FileContext rename-with-OVERWRITE
    * (HDFS-like stores) are both atomic namespace operations. */
  private def replaceAtomic(f: org.apache.hadoop.fs.FileSystem,
      target: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID().toString.take(12)}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    val scheme = Option(target.toUri.getScheme)
      .orElse(Option(f.getUri.getScheme)).getOrElse("file")
    if (scheme == "file") {
      val qualify = (p: Path) =>
        java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath)
      java.nio.file.Files.move(qualify(tmp), qualify(target),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // FileContext rename-with-OVERWRITE is the atomic primitive on
      // HDFS-like stores. A store with no AbstractFileSystem binding
      // (some object stores) has NO atomic rename at all — refuse
      // loudly rather than silently break the torn-write guarantee the
      // checkpoint/vacuum paths depend on. (A crash between stage and
      // rename strands the .tmp file; vacuum sweeps those.)
      val fc =
        try org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, f.getConf)
        catch {
          case e: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            throw new UnsupportedOperationException(
              s"atomic replace of $target needs an AbstractFileSystem binding " +
                s"for scheme '${f.getUri.getScheme}' (FileContext rename is the " +
                "atomic primitive); this store cannot host a snapshot log", e)
        }
      fc.rename(f.makeQualified(tmp), f.makeQualified(target),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def logDir(table: String) = new Path(table, "_graft_log")
  private def versionFile(table: String, v: Long) =
    new Path(logDir(table), f"v$v%011d.json")

  private def fs(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Normalize a path string that came from `_metadata.file_path` (or a
    * DV sidecar's `file_path` column, which stores it) to the literal
    * on-disk name manifests record: those strings are URI-ENCODED
    * (`%20` for a space — e.g. a partition value with specials), so a
    * plain `new Path(s).toString` of both sides never matches. Decodes
    * one URI layer THEN Path-normalizes (slash count, scheme
    * spelling). Manifest/listStatus strings must NOT go through this —
    * a literal `%xx` in a file name (our own partition escaping writes
    * them) would be wrongly stripped; use `new Path(s).toString` for
    * those. */
  private def normPath(s: String): String =
    try {
      val u = new java.net.URI(s)
      if (u.getScheme != null) new Path(u).toString else new Path(s).toString
    } catch { case _: java.net.URISyntaxException => new Path(s).toString }

  /** Versions present in the log, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val dir = logDir(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  /** `_latest` pointer file — the Delta `_last_checkpoint` idea applied
    * to latest-version resolution: every successful commit rewrites it
    * (atomically) with its version, so the hottest metadata probe of
    * the engine — [[latestVersion]], hit by every unpinned read, SQL
    * resolution, serving refresh and stream poll — reads ONE tiny file
    * plus ONE existence check instead of listing an O(commits)
    * directory (a 10⁵-commit log is a multi-second list on an object
    * store, paid per query before this). The pointer is ADVISORY, the
    * log stays the source of truth: a writer crashing between manifest
    * create and pointer update leaves it stale-behind, which the
    * forward existence probe heals at one O(1) check per lagged
    * version; a missing/corrupt/unwritable pointer falls back to the
    * listing. It can never serve a version the log does not have —
    * every answer is re-validated against an existing manifest file. */
  private def latestPtrFile(table: String) = new Path(logDir(table), "_latest")

  private def readLatestPtr(f: org.apache.hadoop.fs.FileSystem,
      table: String): Option[Long] =
    try {
      val in = f.open(latestPtrFile(table))
      val buf = new java.io.ByteArrayOutputStream(24)
      try {
        val b = new Array[Byte](64)
        var n = in.read(b)
        while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
      } finally in.close()
      new String(buf.toByteArray, "UTF-8").trim.toLongOption.filter(_ >= 0L)
    } catch { case _: java.io.IOException => None }

  /** Advance the pointer to `v` after a successful commit — never
    * backwards (two racing committers update out of order; the loser's
    * stale write is suppressed by the read-check and any remaining
    * interleaving is healed by [[latestVersion]]'s forward probe and
    * overwritten by the next commit). Failures are swallowed: the
    * pointer is a cache of the log, not part of the commit. */
  private def advanceLatestPtr(f: org.apache.hadoop.fs.FileSystem,
      table: String, v: Long): Unit =
    try {
      if (!readLatestPtr(f, table).exists(_ >= v))
        replaceAtomic(f, latestPtrFile(table), v.toString.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }

  def latestVersion(spark: SparkSession, table: String): Option[Long] = {
    val f = fs(spark, table)
    readLatestPtr(f, table) match {
      case Some(p) =>
        // forward probe from the pointer: heals a stale-behind pointer
        // (crashed writer) at one existence check per lagged version
        var v = p
        while (f.exists(versionFile(table, v + 1))) v += 1
        if (v == p && !f.exists(versionFile(table, p)))
          versions(spark, table).lastOption // pointer points at nothing — trust the log
        else Some(v)
      case None => versions(spark, table).lastOption
    }
  }

  /** A parsed manifest. `schemas` maps each listed file (by
    * [[statsKey]]) to the Spark schema its footer carries, and `dvRefs`
    * maps each listed DV sidecar to its [[DvRef]] summary; both are
    * empty for manifests written before the log recorded them. */
  private final case class Manifest(version: Long, action: String,
      files: Seq[String], ts: Long, batchId: Option[Long],
      removed: Seq[String] = Seq.empty,
      dvs: Seq[String] = Seq.empty,
      removedDvs: Seq[String] = Seq.empty,
      neutral: Boolean = false,
      restoredFrom: Option[Long] = None,
      schemas: Map[String, StructType] = Map.empty,
      dvRefs: Map[String, Seq[DvRef]] = Map.empty)

  // ------------------------------------------------------------------
  // Snapshot-state caches. Manifests are IMMUTABLE once created (the
  // one exception — vacuum's horizon rewrite + manifest truncation —
  // invalidates below), so parsed manifests, folded states, and folded
  // stats are memoized per (table, version). Without this every read
  // re-lists the log and re-parses JSON from the last checkpoint
  // forward — a driver-side O(commits + files) cost PER QUERY that
  // becomes the serving bottleneck at 10⁴ commits / many reads per
  // second of the same version (the reason Delta caches Snapshot
  // objects). `latestVersion` stays the only filesystem probe on a
  // warm read path. Capacities bound driver footprint; entries are
  // plain data (no broadcasts), so eviction needs no cleanup.
  // ------------------------------------------------------------------
  private def lruCache[V](cap: Int) =
    new java.util.LinkedHashMap[String, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > cap
    }
  // capacities assume file-LIST-scale entries (a folded State for a
  // 10⁶-file table is ~100 MB of path strings) — Delta likewise caches
  // a handful of Snapshot objects, not hundreds
  private val manifestCache = lruCache[Manifest](4096)
  private val stateCache = lruCache[State](32)
  private val statsFoldCache = lruCache[Map[String, Map[String, ColStats]]](16)
  private def cacheKey(table: String, v: Long) = table + "#v" + v

  /** Per-table invalidation epoch, FENCING slow cache fills: a fold
    * that started before a vacuum and finished after it must not
    * re-insert the stale result (the one interleaving a purge-only
    * invalidation misses — the stale v0 would then be served silently
    * instead of failing the vacuumed-version check). Fills capture the
    * epoch before computing and insert only if it is unchanged. */
  private val tableEpochs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def epochOf(table: String): Long =
    Option(tableEpochs.get(table)).map(_.longValue()).getOrElse(0L)

  /** Insert `value` unless `table`'s epoch moved since `e0` (an
    * invalidation ran mid-fill — the result may describe dropped
    * manifests). */
  private def putFenced[V](m: java.util.LinkedHashMap[String, V],
      table: String, e0: Long, key: String, value: V): Unit =
    m.synchronized { if (epochOf(table) == e0) m.put(key, value) }

  /** Drop every cached entry for `table` — called by [[vacuum]], whose
    * horizon rewrite and manifest truncation are the ONLY mutations of
    * existing versions. Test seam. */
  private[graft] def invalidateCaches(table: String): Unit = {
    tableEpochs.merge(table, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
    val prefix = table + "#v"
    def purge[V](m: java.util.LinkedHashMap[String, V]): Unit =
      m.synchronized { m.keySet().removeIf(_.startsWith(prefix)) }
    purge(manifestCache); purge(stateCache); purge(statsFoldCache)
    // registered partition columns are create-time immutable for a
    // LIVE table, but a drop + re-create at the same path may change
    // them — invalidation must cover the memo
    partitionColsCache.remove(table): Unit
  }

  private def readManifest(spark: SparkSession, table: String, v: Long): Manifest = {
    val key = cacheKey(table, v)
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    val e0 = epochOf(table)
    val f = fs(spark, table)
    val in = f.open(versionFile(table, v))
    val node = try mapper.readTree(in) finally in.close()
    val files = textArray(node, "files")
    val m = Manifest(node.get("version").asLong(), node.get("action").asText(),
      files, node.get("ts").asLong(),
      Option(node.get("batchId")).map(_.asLong()),
      textArray(node, "removed"), textArray(node, "dvs"), textArray(node, "removedDvs"),
      Option(node.get("neutral")).exists(_.asBoolean()),
      Option(node.get("restoredFrom")).map(_.asLong()),
      parseSchemas(node, files), parseDvRefs(node))
    putFenced(manifestCache, table, e0, key, m)
    m
  }

  /** The visible state at a version: the data FILES plus the DELETION
    * VECTOR sidecars logically subtracted from them (merge-on-read —
    * each DV row is a `(file_path, row_index)` the readers must skip).
    * Both lists are manifest-scale. `schemas` and `dvRefs` carry what
    * the log recorded about them (see [[Manifest]]); a file or sidecar
    * missing from them was committed before the log recorded it. */
  private final case class State(files: Seq[String], dvs: Seq[String],
      schemas: Map[String, StructType] = Map.empty,
      dvRefs: Map[String, Seq[DvRef]] = Map.empty)

  /** One DV sidecar's deletes in one data file: the data file as the
    * sidecar spells it (`_metadata.file_path`, URI form), how many of
    * its rows the sidecar marks, and the largest marked row index — the
    * per-file bitmap size. */
  private final case class DvRef(file: String, rows: Long, maxRow: Long)

  /** Conflict-detection context a MERGE-shaped commit carries into the
    * manifest retry loop: the version the merge read its matches
    * against, its key columns, and the (broadcast-sized) distinct
    * source keys — enough to detect the one race no serial order can
    * explain: a concurrent commit inserting a key this merge also
    * upserts (both rows end up live). `sourceKeys` is a LOCAL relation
    * (the keys were collected once at merge start), so the guard probes
    * the exact keys the merge actually matched against — re-executing a
    * nondeterministic source plan at conflict-check time could evaluate
    * DIFFERENT keys and let a genuine write-write conflict pass. */
  private final case class MergeGuard(baseVersion: Long,
      keyCols: Seq[String], sourceKeys: DataFrame)

  /** Collect `source`'s distinct key tuples ONCE and pin them as a
    * local relation — the single key set every downstream use of the
    * merge shares (touched-file discovery, the anti-join, the commit
    * loop's MergeGuard). Broadcast-sized by contract: a table-scale
    * "merge" is an overwrite commit, not an upsert.
    *
    * The duplicate-key validation rides the SAME aggregate (keys with
    * counts), so a validated merge costs one pass over the source
    * batch, not two — the separate groupBy-count job the callers used
    * to run first re-read the whole batch for a boolean. */
  private def frozenSourceKeys(spark: SparkSession, source: DataFrame,
      keyCols: Seq[String], validateUnique: Boolean, op: String): DataFrame = {
    val proj = source.select(keyCols.map(col): _*)
    val counted = proj.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).collect()
    if (validateUnique && counted.exists(_.getLong(keyCols.size) > 1))
      throw new IllegalArgumentException(
        s"$op: source has duplicate keys — one target row would match " +
          "multiple source rows (pass validate = false to skip this check)")
    val rows = counted.map(r =>
      org.apache.spark.sql.Row.fromSeq(keyCols.indices.map(r.get)))
    broadcast(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), proj.schema))
  }

  /** The file set visible at `version`: fold the log from the last
    * overwrite at-or-before it. Loud on a vacuumed/unknown version. */
  def filesAt(spark: SparkSession, table: String, version: Long): Seq[String] =
    stateAt(spark, table, version).files

  /** Full visible state (data files + deletion-vector sidecars) at
    * `version` — the generalized log fold [[filesAt]] delegates to.
    * DV rows referencing files a later `replace`/`overwrite` removed
    * are stale-but-harmless: readers apply DVs per file, and a removed
    * file is never scanned. */
  private def stateAt(spark: SparkSession, table: String, version: Long): State = {
    val key = cacheKey(table, version)
    stateCache.synchronized {
      val hit = stateCache.get(key)
      if (hit != null) return hit
    }
    val e0 = epochOf(table)
    val st = stateAtUncached(spark, table, version)
    putFenced(stateCache, table, e0, key, st)
    st
  }

  private def stateAtUncached(spark: SparkSession, table: String, version: Long): State = {
    val vs = versions(spark, table)
    require(vs.contains(version),
      s"snapshot version $version does not exist for $table " +
        s"(available: ${vs.headOption.getOrElse("-")}..${vs.lastOption.getOrElse("-")}; " +
        "earlier versions may have been vacuumed)")
    // start from the newest checkpoint at-or-before `version` (O(1)
    // reads for the folded prefix), manifests after it fold on top
    val ckpt = checkpoints(spark, table).filter(_ <= version).lastOption
    val base = ckpt.map(readCheckpoint(spark, table, _)).getOrElse(State(Seq.empty, Seq.empty))
    val from = ckpt.getOrElse(-1L)
    val tail = vs.filter(v => v > from && v <= version)
      .map(readManifest(spark, table, _))
    tail.foldLeft(base) { (acc, m) =>
      m.action match {
        case "overwrite" => // self-contained reset
          State(m.files, m.dvs, m.schemas, m.dvRefs)
        case "append" | "dv" => // dv = merge-on-read: mark rows deleted, append inserts
          State(acc.files ++ m.files, acc.dvs ++ m.dvs,
            acc.schemas ++ m.schemas, acc.dvRefs ++ m.dvRefs)
        case "replace"   => // copy-on-write: swap rewritten files in place
          val dead = m.removed.toSet; val deadDv = m.removedDvs.toSet
          State(acc.files.filterNot(dead) ++ m.files,
            acc.dvs.filterNot(deadDv) ++ m.dvs,
            acc.schemas -- m.removed.map(statsKey) ++ m.schemas,
            acc.dvRefs -- m.removedDvs.map(statsKey) ++ m.dvRefs)
        case other => throw new IllegalStateException(
          s"unknown manifest action '$other' at $table v${m.version}")
      }
    }
  }

  private def checkpointFile(table: String, v: Long) =
    new Path(logDir(table), f"checkpoint-v$v%011d.json")

  private def checkpoints(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val dir = logDir(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("checkpoint-v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("checkpoint-v").stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  private def readCheckpoint(spark: SparkSession, table: String, v: Long): State = {
    val f = fs(spark, table)
    val in = f.open(checkpointFile(table, v))
    val node = try mapper.readTree(in) finally in.close()
    val files = textArray(node, "files")
    State(files, textArray(node, "dvs"), parseSchemas(node, files), parseDvRefs(node))
  }

  private def textArray(node: com.fasterxml.jackson.databind.JsonNode,
      name: String): Seq[String] = Option(node.get(name))
    .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)

  /** Record in a manifest or checkpoint the Spark schema each of
    * `files` carries: one `schema` string when they all share one (every
    * commit that writes data), else `schemas` groups of
    * (schema, files) — a manifest that only references files (restore,
    * clone, the vacuum horizon, checkpoints) may span commits that
    * evolved the schema. Files with no recorded schema are left out. */
  private def putSchemas(json: com.fasterxml.jackson.databind.node.ObjectNode,
      files: Seq[String], schemas: Map[String, StructType]): Unit = {
    val known = files.flatMap(f => schemas.get(statsKey(f)).map(f -> _.json))
    val distinct = known.map(_._2).distinct
    if (distinct.size == 1 && known.size == files.size) json.put("schema", distinct.head)
    else if (distinct.nonEmpty) {
      val arr = json.putArray("schemas")
      distinct.foreach { s =>
        val g = arr.addObject()
        g.put("schema", s)
        val fa = g.putArray("files")
        known.filter(_._2 == s).foreach(k => fa.add(k._1))
      }
    }
  }

  private def parseSchemas(node: com.fasterxml.jackson.databind.JsonNode,
      files: Seq[String]): Map[String, StructType] = {
    def parse(s: com.fasterxml.jackson.databind.JsonNode) =
      DataType.fromJson(s.asText()).asInstanceOf[StructType]
    Option(node.get("schema")) match {
      case Some(s) => val st = parse(s); files.map(statsKey(_) -> st).toMap
      case None => Option(node.get("schemas")).toSeq.flatMap(_.elements().asScala)
        .flatMap { g =>
          val st = parse(g.get("schema"))
          textArray(g, "files").map(statsKey(_) -> st)
        }.toMap
    }
  }

  /** Record the [[DvRef]] summary of each of `dvs` that has one, as
    * `dvRefs: {sidecar: [[file, rows, maxRow], …]}`. */
  private def putDvRefs(json: com.fasterxml.jackson.databind.node.ObjectNode,
      dvs: Seq[String], refs: Map[String, Seq[DvRef]]): Unit = {
    val known = dvs.flatMap(p => refs.get(statsKey(p)).map(p -> _))
    if (known.nonEmpty) {
      val o = json.putObject("dvRefs")
      known.foreach { case (p, rs) =>
        val a = o.putArray(p)
        rs.foreach { r =>
          val t = a.addArray(); t.add(r.file); t.add(r.rows); t.add(r.maxRow)
        }
      }
    }
  }

  private def parseDvRefs(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Seq[DvRef]] =
    Option(node.get("dvRefs")).toSeq.flatMap(_.properties().asScala).map { e =>
      statsKey(e.getKey) -> e.getValue.elements().asScala.map(t =>
        DvRef(t.get(0).asText(), t.get(1).asLong(), t.get(2).asLong())).toSeq
    }.toMap

  /** Fold the log once and persist the file set visible at the latest
    * version as a SIDE-CAR checkpoint — after this, every read resolves
    * in O(commits since checkpoint) manifest reads instead of
    * O(all versions). Commits and manifests are untouched (unlike the
    * vacuum horizon rewrite), so [[readChanges]] ranges crossing the
    * checkpoint stay valid — the Delta checkpoint design. Run
    * periodically on long-lived streaming tables (e.g. every N
    * `commitBatch`es). Returns the checkpointed version. */
  def checkpoint(spark: SparkSession, table: String): Long = {
    val v = versionOrLatest(spark, table)
    val st = stateAt(spark, table, v)
    val f = fs(spark, table)
    val json = mapper.createObjectNode()
    json.put("version", v)
    val arr = json.putArray("files")
    st.files.foreach(arr.add)
    if (st.dvs.nonEmpty) {
      val dv = json.putArray("dvs")
      st.dvs.foreach(dv.add)
    }
    putSchemas(json, st.files, st.schemas)
    putDvRefs(json, st.dvs, st.dvRefs)
    // the sidecar also folds the per-file STATS, so stats-based pruning
    // resolves in O(commits since checkpoint) like stateAt — without
    // this, statsFold alone would re-read the whole log per prune call
    statsNodeFromFold(statsFold(spark, table, v), st.files)
      .foreach(sn => json.set[com.fasterxml.jackson.databind.JsonNode]("stats", sn))
    // atomic replace: a concurrent reader's stateAt must never open a
    // half-written checkpoint (loud-but-spurious parse failure)
    replaceAtomic(f, checkpointFile(table, v), mapper.writeValueAsBytes(json))
    v
  }

  /** Write `df`'s rows as a new immutable commit directory and record
    * the manifest; returns the committed version. `overwrite = true`
    * resets the visible file set (a full-snapshot refresh — the
    * reference's mode="overwrite", made atomic); `false` appends.
    * Concurrency: the manifest CREATE is the commit point — on a
    * version collision the loser recomputes and retries. */
  def commit(spark: SparkSession, table: String, df: DataFrame,
      overwrite: Boolean = false): Long =
    commitWith(spark, table, df, overwrite, batchId = None)

  private def commitWith(spark: SparkSession, table: String, df: DataFrame,
      overwrite: Boolean, batchId: Option[Long],
      maxRecordsPerFile: Option[Long] = None): Long =
    commitAction(spark, table, df,
      if (overwrite) "overwrite" else "append", batchId, maxRecordsPerFile)

  /** Write + manifest-create loop with OPTIMISTIC CONFLICT DETECTION.
    * Appends/overwrites are commutative with concurrent commits and
    * retry blindly at the next version. The two non-commutative shapes
    * revalidate INSIDE the loop, before every create attempt (versions
    * are immutable once created, so a validation done against v-1
    * still holds when the create at v wins the race):
    *
    *   - `replace` (copy-on-write DML): every file this commit removes
    *     must still be VISIBLE at the would-be base version — if a
    *     racing writer already replaced one, committing on top would
    *     resurrect that file's rewritten rows (lost update). Fails
    *     with ConcurrentModificationException; the caller re-runs the
    *     DML against the new state.
    *   - `expectedBase` (compaction): the overwrite is only valid if
    *     NOTHING committed since the state it compacted — otherwise
    *     the overwrite would silently drop the concurrent commit's
    *     rows. Same exception; re-run the compaction.
    */
  private def commitAction(spark: SparkSession, table: String, df: DataFrame,
      action: String, batchId: Option[Long],
      maxRecordsPerFile: Option[Long] = None,
      removed: Seq[String] = Seq.empty,
      expectedBase: Option[Long] = None,
      baseDvs: Option[Set[String]] = None,
      dvs: Seq[String] = Seq.empty,
      removedDvs: Seq[String] = Seq.empty,
      requireVisible: Seq[String] = Seq.empty,
      neutral: Boolean = false,
      mergeGuard: Option[MergeGuard] = None): Long = {
    val files = writeData(spark, table, df, maxRecordsPerFile)
    validateWrittenOrAbort(spark, table, files)
    commitManifest(spark, table, files, action, batchId,
      removed = removed, expectedBase = expectedBase, baseDvs = baseDvs,
      dvs = dvs, removedDvs = removedDvs, requireVisible = requireVisible,
      neutral = neutral, mergeGuard = mergeGuard)
  }

  // ------------------------------------------------------------------
  // Partition-aware layout. Registered partition columns
  // (`partition.columns` table property, set BEFORE the first commit —
  // Delta's create-time contract) make every commit write
  // `partitionBy` Hive-style directories INSIDE its immutable commit
  // dir: `data/c-xxxx/p__col=value/part-*.parquet`. The partitioned
  // column is DUPLICATED into a `p__` shadow for the directory
  // layout and kept in the data file itself (a per-file constant —
  // parquet dictionary-encodes it to nothing), so data files stay
  // self-contained: every existing read path (DV subtraction, stats,
  // provenance, schema evolution) works unchanged, and partition
  // PRUNING is pure path parsing at the manifest level — the file
  // list a reader plans from never includes other partitions' files.
  // On top of the layout: metadata-only whole-partition drops
  // ([[deletePartitions]] — the retention primitive that makes
  // "delete a day" a manifest write at 100 TB) and dynamic partition
  // overwrite ([[overwritePartitions]] — the incremental-load contract
  // for a nightly refresh that replaces exactly the partitions it
  // recomputed while appends to other partitions commute).
  // ------------------------------------------------------------------

  // deliberately NOT underscore-prefixed: `_`-led names are skipped as
  // metadata by file listers (our own leaf enumeration, Spark's file
  // index, the streaming file source) — the partition dirs must be
  // visible to all of them
  private val partPrefix = "p__"
  private val hiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Register the columns every subsequent commit partitions the
    * layout by. Must be called before the first commit: files written
    * unpartitioned carry no partition path segments, so partition
    * predicates could not prune (or worse, drop) them exactly. */
  def setPartitionColumns(spark: SparkSession, table: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "setPartitionColumns: at least one column")
    require(latestVersion(spark, table).isEmpty,
      s"setPartitionColumns: $table already has commits — partitioning is a " +
        "create-time property (rewrite into a fresh partitioned table instead)")
    setProperty(spark, table, "partition.columns", cols.mkString(","))
  }

  /** Registered partition columns per table, memoized once NON-EMPTY:
    * registration is create-time immutable, so a registered set never
    * changes — but an EMPTY read must not cache (the table may be
    * registered between a probe and its first commit). Keeps the
    * per-read FS probe off the partition-pruning hot path. */
  private val partitionColsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[graft] def partitionColumnsOf(spark: SparkSession, table: String): Seq[String] = {
    val hit = partitionColsCache.get(table)
    if (hit != null) return hit
    val cols = properties(spark, table).get("partition.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    if (cols.nonEmpty) partitionColsCache.put(table, cols)
    cols
  }

  /** Unescape one Hive-style partition path value (`%xx` sequences —
    * the convention Spark's `partitionBy` writes). */
  private def unescapePathValue(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        // malformed %-runs fall through literally
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Partition values parsed from a file's path segments
    * (`p__col=value`), column → value string; the hive default
    * sentinel maps to null. Empty for files written before/without
    * partition registration. */
  private[graft] def partitionValuesOf(file: String): Map[String, String] = {
    val p = new Path(file)
    var seg = p.getParent
    var out = Map.empty[String, String]
    while (seg != null && seg.getName.startsWith(partPrefix) &&
        seg.getName.contains('=')) {
      val name = seg.getName
      val eq = name.indexOf('=')
      val c = name.substring(partPrefix.length, eq)
      val raw = name.substring(eq + 1)
      out += c -> (if (raw == hiveDefaultPartition) null
        else unescapePathValue(raw))
      seg = seg.getParent
    }
    out
  }

  /** Render a filter value the way Spark renders it into a partition
    * path (pre-escaping): the exact-match key for pruning. NULL and the
    * EMPTY STRING both land in the hive default partition (Spark writes
    * `__HIVE_DEFAULT_PARTITION__` for both), so both render to null and
    * the default partition is addressed as ONE unit — the Hive
    * contract. Types whose `toString` differs from Spark's partition
    * path rendering (timestamps, binary, decimals with trailing-zero
    * normalization) are REFUSED loudly rather than silently matching
    * nothing. */
  private def renderPartValue(v: Any): String = v match {
    case null => null
    case "" => null // hive default partition, like null
    case s: String => s
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case _: Int | _: Long | _: Short | _: Byte | _: Boolean |
         _: Double | _: Float => v.toString
    case other => throw new IllegalArgumentException(
      s"partition filter value of type ${other.getClass.getName} — its " +
        "toString does not match Spark's partition path rendering; pass " +
        "the exact path string Spark wrote (string/integer/boolean/date " +
        "values render canonically)")
  }

  /** True when `file`'s parsed partition values match every
    * `(column → value)` entry. A file with NO parsed value for a
    * filtered column does not match (exactness is guarded by the
    * create-time registration contract). */
  private def partitionMatches(file: String, filter: Map[String, Any]): Boolean = {
    val vals = partitionValuesOf(file)
    filter.forall { case (c, v) =>
      vals.get(c) match {
        case Some(got) => got == renderPartValue(v)
        case None => false
      }
    }
  }

  /** Loud guard shared by every partition-filter entry point: keys must
    * be REGISTERED partition columns — a typo or a data-column filter
    * would otherwise silently match nothing. */
  private def validatePartitionFilter(spark: SparkSession, table: String,
      filter: Map[String, Any], op: String): Unit = {
    require(filter.nonEmpty, s"$op: empty filter")
    val pcols = partitionColumnsOf(spark, table)
    require(pcols.nonEmpty, s"$op: $table has no registered partition columns")
    require(filter.keySet.subsetOf(pcols.toSet),
      s"$op: ${filter.keySet} must be registered partition columns ($pcols)")
  }

  /** Visible files of `version` (default latest) inside the partitions
    * matching `filter` — manifest-level partition pruning: pure path
    * parsing over the folded state (no data file opened; the filter
    * validation's partition-column lookup memoizes after first use). */
  def partitionPrunedFiles(spark: SparkSession, table: String,
      filter: Map[String, Any], version: Option[Long] = None): Seq[String] = {
    validatePartitionFilter(spark, table, filter, "partitionPrunedFiles")
    val v = versionOrLatest(spark, table, version)
    stateAt(spark, table, v).files.filter(partitionMatches(_, filter))
  }

  /** Read exactly the partitions matching `filter` (equality on each
    * listed partition column), deletion vectors still applied. The
    * scan's file list IS the partition — other partitions' files never
    * reach the planner — and the equality predicate is re-applied on
    * the data columns (a per-file constant: codegen folds it), so the
    * result is exact even against a hand-dropped file. */
  def readPartitions(spark: SparkSession, table: String,
      filter: Map[String, Any], version: Option[Long] = None): DataFrame = {
    val v = versionOrLatest(spark, table, version)
    val st = stateAt(spark, table, v)
    val keep = partitionPrunedFiles(spark, table, filter, Some(v))
    val base = readState(spark, table, st.copy(files = keep))
    val pred = filter.map { case (c, vv) =>
      // the hive default partition holds BOTH null and "" values (Spark
      // writes the same sentinel for both) — address it as one unit.
      // The ""-arm only exists for string columns: under ANSI mode a
      // constant-folded cast('' as int) would THROW on a non-string
      // partition column (where "" values cannot exist anyway).
      val isString = base.schema(c).dataType ==
        org.apache.spark.sql.types.StringType
      if (vv == null || vv == "")
        if (isString) col(c).isNull || col(c) === lit("") else col(c).isNull
      else col(c) === lit(vv)
    }.reduce(_ && _)
    base.where(pred)
  }

  /** DROP PARTITION: remove every visible file of the partitions
    * matching `filter` from the manifest — METADATA-ONLY, no byte
    * read or written; deleting a day from a year of time-partitioned
    * data is one manifest rename. DV rows referencing dropped files
    * become stale-but-harmless. Refuses loudly if a matching
    * partition's files predate partition registration (no path
    * segments — exact semantics impossible). The conflict check
    * covers the dropped files: a racing rewrite of one fails the
    * commit rather than resurrecting rows. */
  def deletePartitions(spark: SparkSession, table: String,
      filter: Map[String, Any]): Cow = {
    validatePartitionFilter(spark, table, filter, "deletePartitions")
    val base = versionOrLatest(spark, table)
    val st = stateAt(spark, table, base)
    val unpartitioned = st.files.filter(partitionValuesOf(_).isEmpty)
    require(unpartitioned.isEmpty,
      s"deletePartitions: ${unpartitioned.size} visible files carry no " +
        "partition path segments (written before registration?) — exact " +
        "partition semantics impossible; use deleteWhere")
    val dropped = st.files.filter(partitionMatches(_, filter)).sorted
    if (dropped.isEmpty) return Cow(None, 0, st.files.size)
    val v = commitManifest(spark, table, Seq.empty, "replace", None,
      removed = dropped, baseDvs = Some(st.dvs.toSet),
      // a file appended to a matching partition since `base` is not in
      // `dropped` and would silently survive the DROP — conflict
      partitionScope = Some(partitionMatches(_, filter)))
    Cow(Some(v), 0, st.files.size, filesDropped = dropped.size)
  }

  /** DYNAMIC PARTITION OVERWRITE: replace exactly the partitions
    * PRESENT IN `df` with `df`'s rows — the nightly-refresh contract
    * (Spark's `partitionOverwriteMode=dynamic`, made atomic): visible
    * files of those partitions are removed and `df`'s files added in
    * ONE `replace` commit, so readers flip atomically and appends or
    * refreshes touching OTHER partitions commute (a whole-table
    * overwrite would conflict with every concurrent commit). Cost is
    * O(df + dropped partitions' manifests) — untouched partitions are
    * carried by reference. */
  def overwritePartitions(spark: SparkSession, table: String,
      df: DataFrame): Cow = {
    val base = versionOrLatest(spark, table)
    val pcols = partitionColumnsOf(spark, table)
    require(pcols.nonEmpty,
      s"overwritePartitions: $table has no registered partition columns")
    val st = stateAt(spark, table, base)
    // write FIRST, then derive the touched partitions from the files
    // the write actually produced: df executes exactly once (a
    // nondeterministic source re-evaluated for a separate
    // touched-partition collect could write partitions absent from the
    // removed set — duplicate rows), and the tuples come from the same
    // path-segment rendering space as the visible files', so matching
    // is exact by construction
    val files = writeData(spark, table, df)
    validateWrittenOrAbort(spark, table, files)
    val touched = files
      .map(f => partitionValuesOf(f))
      .map(vals => pcols.map(c => vals.getOrElse(c, "")).toIndexedSeq)
      .toSet
    val inTouched = (f: String) => {
      val vals = partitionValuesOf(f)
      vals.nonEmpty &&
        touched.contains(pcols.map(c => vals.getOrElse(c, "")).toIndexedSeq)
    }
    val removed = st.files.filter(inTouched).sorted
    // this commit's own files land in touched partitions by definition
    // — scope the guard to OTHER writers' files
    val own = files.toSet
    val v = commitManifest(spark, table, files, "replace", None,
      removed = removed, baseDvs = Some(st.dvs.toSet),
      // a file a concurrent append landed in a touched partition since
      // `base` is not in `removed` and would survive the "replace" —
      // conflict (Delta's replaceWhere rule)
      partitionScope = Some(f => !own(f) && inTouched(f)))
    Cow(Some(v), removed.size, st.files.size)
  }

  /** Write `df` as a new immutable commit directory; returns the part
    * files (durable but INVISIBLE until a manifest references them —
    * a crash here leaves orphans for [[vacuum]] to sweep). Registered
    * partition columns shape the layout: each is duplicated into a
    * `p__` shadow consumed by `partitionBy` (so the data file keeps
    * the real column) and leaf files are enumerated recursively. */
  private def writeData(spark: SparkSession, table: String, df: DataFrame,
      maxRecordsPerFile: Option[Long] = None): Seq[String] = {
    val f = fs(spark, table)
    val commitDir = new Path(new Path(table, "data"),
      s"c-${UUID.randomUUID().toString.take(8)}")
    val pcols = partitionColumnsOf(spark, table)
    val writer =
      if (pcols.isEmpty) df.write
      else {
        val missing = pcols.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"commit to $table: partition column(s) ${missing.mkString(",")} " +
            "absent from the batch")
        pcols.foldLeft(df)((d, c) => d.withColumn(partPrefix + c, col(c)))
          .write.partitionBy(pcols.map(partPrefix + _): _*)
      }
    maxRecordsPerFile.foreach(n => writer.option("maxRecordsPerFile", n))
    writer.parquet(commitDir.toString)
    def leaves(dir: Path): Seq[Path] =
      f.listStatus(dir).toSeq
        .filter(s => !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s.getPath))
    leaves(commitDir).map(_.toString).sorted
  }

  /** The manifest-create retry loop shared by every commit shape. All
    * conflict checks run INSIDE the loop, against the would-be base
    * version (immutable once created, so a check against v-1 still
    * holds when the create at v wins):
    *   - `removed`: every file this replace removes must still be
    *     visible (a racing replace of one would be resurrected);
    *   - `requireVisible`: files this commit only DEPENDS on (a DV
    *     marks rows deleted IN them) must still be visible — a racing
    *     rewrite of one would orphan the deletes;
    *   - `baseDvs`: replace-shaped commits rewrote rows with a specific
    *     DV set applied; if a racing merge-on-read delete added DVs
    *     REFERENCING A FILE THIS COMMIT REWRITES, committing would
    *     resurrect those deletes — conflict. DVs added against files
    *     this commit does NOT touch are applied per-file at read time
    *     and survive the fold untouched, so they COMMUTE (Delta's
    *     scoped DV conflict rule — a 100 TB table cannot afford
    *     housekeeping that conflicts with every scattered delete).
    *     (DV-vs-DV commits skip this: deletes commute.)
    *   - `mergeGuard` (merge-shaped commits): any concurrent
    *     NON-NEUTRAL commit that added rows whose keys this merge also
    *     upserts means the merge missed a matchable row — committing
    *     would leave two live rows per key, a state NO serial order
    *     produces. Checked by a delta-sized key-overlap scan of the
    *     files added since the merge's base; a concurrent full
    *     OVERWRITE (state reset) refuses outright.
    *   - `expectedBase`: overwrites of a read state refuse to clobber
    *     ANY concurrent commit. */
  private def commitManifest(spark: SparkSession, table: String,
      files: Seq[String], action: String, batchId: Option[Long],
      removed: Seq[String] = Seq.empty,
      expectedBase: Option[Long] = None,
      dvs: Seq[String] = Seq.empty,
      removedDvs: Seq[String] = Seq.empty,
      requireVisible: Seq[String] = Seq.empty,
      baseDvs: Option[Set[String]] = None,
      restoredFrom: Option[Long] = None,
      neutral: Boolean = false,
      mergeGuard: Option[MergeGuard] = None,
      partitionScope: Option[String => Boolean] = None,
      dvRefs: Map[String, Seq[DvRef]] = Map.empty,
      logStats: Map[String, Map[String, ColStats]] = Map.empty,
      logSchemas: Map[String, StructType] = Map.empty): Long = {
    val f = fs(spark, table)
    f.mkdirs(logDir(table))
    if ((action == "overwrite" || action == "replace") &&
        properties(spark, table).get("streaming").contains("append_only"))
      throw new IllegalStateException(
        s"commit refused: $table is marked streaming=append_only (a " +
          s"file-stream consumer is attached) and a ${action.toUpperCase} " +
          "commit rewrites or resets visible files — the stream would " +
          "re-deliver the rewritten rows as inserts without their deletes. " +
          "Run DML merge-on-read, do housekeeping on a downstream table, or " +
          "unsetProperty(table, \"streaming\") after detaching the stream")
    raceHook()
    // footer stats and schemas for the commit's files, computed ONCE
    // (files are immutable across retry attempts); O(new files) footer
    // reads. A file `logStats` and `logSchemas` (the fold's, for a
    // commit that only re-references files) both describe opens none.
    val described = files.filter(f =>
      fileStatsOf(logStats, f).exists(_.nonEmpty) && logSchemas.contains(statsKey(f))).toSet
    val (footStats, footSchemas) = footerMeta(spark, table, files.filterNot(described))
    val statsNode = statsNodeFromFold(
      footStats ++ described.map(f => statsKey(f) -> fileStatsOf(logStats, f).get), files)
    val schemas = footSchemas ++ logSchemas
    var v = latestVersion(spark, table).map(_ + 1).getOrElse(0L)
    while (true) {
      expectedBase.foreach { e =>
        if (v != e + 1) throw new java.util.ConcurrentModificationException(
          s"commit conflict at $table: expected to commit on top of v$e " +
            s"but the log is at v${v - 1} — a concurrent commit landed; " +
            "re-run against the new state")
      }
      if ((removed.nonEmpty || requireVisible.nonEmpty) && v > 0) {
        val visible = filesAt(spark, table, v - 1).toSet
        val gone = (removed ++ requireVisible).filterNot(visible)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"replace conflict at $table v$v: ${gone.size} of this commit's " +
            s"removed/required files are no longer visible (e.g. ${gone.head}) " +
            "— a concurrent writer replaced them; re-run the DML against the new state")
      }
      // partition-scoped replaces (DROP PARTITION / dynamic partition
      // overwrite) own EVERY visible file of their touched partitions:
      // a file a concurrent commit ADDED to a touched partition since
      // the base state is not in `removed`, so committing would leave
      // the partition holding both the refresh's rows and the racing
      // append's — breaking atomic partition replacement (Delta's
      // replaceWhere conflict rule). The removed-still-visible check
      // above covers disappearances; this covers additions.
      partitionScope.foreach { inScope =>
        if (v > 0) {
          val removedSet = removed.toSet
          val extra = filesAt(spark, table, v - 1)
            .filter(fp => inScope(fp) && !removedSet(fp))
          if (extra.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"replace conflict at $table v$v: a concurrent commit added " +
              s"${extra.size} file(s) to a partition this commit replaces " +
              s"(e.g. ${extra.head}) — committing would silently keep them; " +
              "re-run the partition operation against the new state")
        }
      }
      baseDvs.foreach { bd =>
        val now = if (v > 0) stateAt(spark, table, v - 1).dvs.toSet
          else Set.empty[String]
        // conflict is SCOPED to the rewritten files: a DV added since
        // this rewrite's base only conflicts if it references a file
        // the rewrite removes (the rewrite read that file WITHOUT the
        // delete — committing would resurrect it). DVs against
        // untouched files survive the fold and stay applied at read
        // time, so scattered racing deletes commute with disjoint DML,
        // purge, and incremental compaction.
        val addedDvs = (now -- bd).toSeq.sorted
        if (addedDvs.nonEmpty) {
          val scope = removed.map(new Path(_).toString).toSet
          lazy val referenced = dvRefsOf(spark, addedDvs, stateAt(spark, table, v - 1).dvRefs)
            .map(r => normPath(r.file))
          if (scope.nonEmpty && referenced.exists(scope))
            throw new java.util.ConcurrentModificationException(
              s"replace conflict at $table v$v: a concurrent merge-on-read " +
                "delete marked rows dead in a file this rewrite removes — " +
                "committing would resurrect those deletes; re-run the DML " +
                "against the new state")
        }
      }
      mergeGuard.foreach { g =>
        // probe the (base, v) RANGE directly instead of listing the
        // whole log: a merge's base is recent, so this is O(commits
        // since the merge read) existence checks per attempt, not an
        // O(all commits) directory listing on every commit of every
        // merge (the listing was the one commit-path cost still growing
        // with log length after the _latest pointer)
        val intervening = (g.baseVersion + 1 until v)
          .filter(x => f.exists(versionFile(table, x)))
          .map(readManifest(spark, table, _)).filterNot(_.neutral)
        intervening.find(_.action == "overwrite").foreach { m =>
          throw new java.util.ConcurrentModificationException(
            s"merge conflict at $table v$v: version ${m.version} OVERWROTE " +
              s"the table since this merge read v${g.baseVersion}; re-run " +
              "against the new state")
        }
        val added = intervening.flatMap(_.files)
        if (added.nonEmpty) {
          val keyEq = g.keyCols
            .map(k => col(s"n.$k") <=> col(s"s.$k")).reduce(_ && _)
          val overlap = scanFiles(spark, table, added, intervening.flatMap(_.schemas).toMap)
            .select(g.keyCols.map(col): _*).as("n")
            .join(g.sourceKeys.as("s"), keyEq, "left_semi")
            .limit(1).count()
          if (overlap > 0L) throw new java.util.ConcurrentModificationException(
            s"merge conflict at $table v$v: a concurrent commit since " +
              s"v${g.baseVersion} added rows with keys this merge also " +
              "upserts — committing would leave duplicate live rows per " +
              "key (no serial order produces that); re-run the merge " +
              "against the new state")
        }
      }
      val target = versionFile(table, v)
      val json = mapper.createObjectNode()
      json.put("version", v)
      json.put("action", action)
      json.put("ts", System.currentTimeMillis())
      batchId.foreach(json.put("batchId", _))
      restoredFrom.foreach(json.put("restoredFrom", _))
      if (neutral) json.put("neutral", true)
      val arr = json.putArray("files")
      files.foreach(arr.add)
      if (removed.nonEmpty) {
        val rm = json.putArray("removed")
        removed.foreach(rm.add)
      }
      if (dvs.nonEmpty) {
        val d = json.putArray("dvs")
        dvs.foreach(d.add)
      }
      if (removedDvs.nonEmpty) {
        val d = json.putArray("removedDvs")
        removedDvs.foreach(d.add)
      }
      putSchemas(json, files, schemas)
      putDvRefs(json, dvs, dvRefs)
      statsNode.foreach(sn => json.set[com.fasterxml.jackson.databind.JsonNode]("stats", sn))
      // atomic create-if-absent IS the commit point (hard-link on
      // local/POSIX, exclusive create on HDFS-like stores)
      if (createExclusive(f, target, mapper.writeValueAsBytes(json))) {
        advanceLatestPtr(f, table, v)
        return v
      }
      v = latestVersion(spark, table).map(_ + 1).getOrElse(v + 1)
    }
    v // unreachable
  }

  /** Read the table at `version` (default: latest). The scan touches
    * ONLY that version's files — immutable, so the result is a
    * consistent snapshot regardless of concurrent commits. Building the
    * read runs no Spark job: the manifests carry each file's schema and
    * each deletion-vector sidecar's per-file summary, so the DataFrame
    * is planned from the log alone (files committed before the log
    * recorded schemas have one footer read on the driver, once). */
  def read(spark: SparkSession, table: String, version: Option[Long] = None): DataFrame =
    readState(spark, table, stateAt(spark, table, versionOrLatest(spark, table, version)))

  /** [[read]] of the rows matching `where`, scanning only the files
    * that may hold one ([[prunedFiles]]): partition equality, `IS NULL`
    * and `IN` conjuncts prune by path, comparison conjuncts by the
    * per-file stats the log records. Deletion vectors still apply, and
    * so does `where` itself: the result equals
    * `read(spark, table, version).where(where)`. */
  def read(spark: SparkSession, table: String, version: Option[Long],
      where: Column): DataFrame = {
    val v = versionOrLatest(spark, table, version)
    val st = stateAt(spark, table, v)
    readState(spark, table, st.copy(files = survivors(spark, table, v, st, where)))
      .where(where)
  }

  /** `version`, or the latest committed one; loud when there is none. */
  private def versionOrLatest(spark: SparkSession, table: String,
      version: Option[Long] = None): Long =
    version.orElse(latestVersion(spark, table)).getOrElse(
      throw new IllegalArgumentException(s"no snapshot committed at $table"))

  private def constraintsFile(table: String) =
    new Path(logDir(table), "constraints.json")

  /** CHECK constraints, enforced at COMMIT time (the Delta
    * `ADD CONSTRAINT` contract): every subsequent commit/DML batch is
    * validated against every registered SQL predicate BEFORE its
    * manifest lands — a violating batch is refused whole and the table
    * is untouched (its orphaned data files are vacuum-swept). The check
    * costs one aggregate over the BATCH (delta-sized), never a table
    * scan: existing data was already checked when it committed.
    * Registering a constraint validates the CURRENT snapshot first, so
    * a table can never hold a row violating a live constraint.
    * Constraints persist in the table's log dir and survive reopen. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String): Unit = {
    require(name.nonEmpty && sqlExpr.nonEmpty, "addConstraint: empty name/expr")
    val existing = constraints(spark, table)
    require(!existing.contains(name), s"constraint '$name' already exists")
    // the current snapshot must satisfy the new constraint
    latestVersion(spark, table).foreach { v =>
      // SQL-standard CHECK: NULL satisfies; only definite FALSE violates
      val bad = read(spark, table, Some(v))
        .where(!coalesce(expr(sqlExpr), lit(true))).limit(1).count()
      require(bad == 0L,
        s"addConstraint '$name': the current snapshot violates ($sqlExpr)")
    }
    writeConstraints(spark, table, existing + (name -> sqlExpr))
  }

  def dropConstraint(spark: SparkSession, table: String, name: String): Unit =
    writeConstraints(spark, table, constraints(spark, table) - name)

  /** Registered constraints (name → SQL predicate). */
  def constraints(spark: SparkSession, table: String): Map[String, String] = {
    val f = fs(spark, table)
    val cf = constraintsFile(table)
    if (!f.exists(cf)) return Map.empty
    val in = f.open(cf)
    val node = try mapper.readTree(in) finally in.close()
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def writeConstraints(spark: SparkSession, table: String,
      cs: Map[String, String]): Unit = {
    val f = fs(spark, table)
    f.mkdirs(logDir(table))
    val json = mapper.createObjectNode()
    cs.toSeq.sortBy(_._1).foreach { case (k, v) => json.put(k, v) }
    replaceAtomic(f, constraintsFile(table), mapper.writeValueAsBytes(json))
  }

  private def propertiesFile(table: String) =
    new Path(logDir(table), "properties.json")

  /** Table properties, persisted beside `constraints.json`. The one
    * the engine itself interprets: `streaming = append_only`. While
    * set, any commit that REWRITES or RESETS visible files
    * (`replace` / `overwrite` — copy-on-write DML, compaction, purge,
    * restore) is refused loudly at the commit gate.
    * [[streamChanges]] / [[streamDeletePositions]] document that such
    * commits silently re-deliver rewritten rows to an attached
    * file-stream consumer without re-delivering their deletes; the
    * property turns that documented hazard into an ENFORCED contract
    * for the lifetime of the stream. Appends, `commitBatch`, and
    * merge-on-read `dv` commits (whose deletes the DV stream does
    * deliver) stay allowed. Unset after detaching the stream to run
    * housekeeping. */
  def setProperty(spark: SparkSession, table: String, key: String,
      value: String): Unit = {
    require(key.nonEmpty, "setProperty: empty key")
    writeProperties(spark, table, properties(spark, table) + (key -> value))
  }

  def unsetProperty(spark: SparkSession, table: String, key: String): Unit =
    writeProperties(spark, table, properties(spark, table) - key)

  def properties(spark: SparkSession, table: String): Map[String, String] = {
    val f = fs(spark, table)
    val pf = propertiesFile(table)
    if (!f.exists(pf)) return Map.empty
    val in = f.open(pf)
    val node = try mapper.readTree(in) finally in.close()
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  private def writeProperties(spark: SparkSession, table: String,
      ps: Map[String, String]): Unit = {
    val f = fs(spark, table)
    f.mkdirs(logDir(table))
    val json = mapper.createObjectNode()
    ps.toSeq.sortBy(_._1).foreach { case (k, v) => json.put(k, v) }
    replaceAtomic(f, propertiesFile(table), mapper.writeValueAsBytes(json))
  }

  /** Enforce CHECK constraints against the files a commit just WROTE —
    * the batch's plan executes exactly once (the write itself), and
    * validation reads back the written bytes, so a nondeterministic
    * upstream can never pass validation yet commit different rows (the
    * hazard of validating the DataFrame in a separate action). The
    * manifest is the commit point, so post-write validation is still
    * atomic: on a violation the staged commit directory is deleted and
    * nothing ever becomes visible. Cost: one column-pruned read of the
    * BATCH's files (only the constraints' columns), never a table scan. */
  private def validateWrittenOrAbort(spark: SparkSession, table: String,
      files: Seq[String]): Unit = {
    if (files.isEmpty || constraints(spark, table).isEmpty) return
    try enforceConstraints(spark, table, scanFiles(spark, table, files, Map.empty))
    catch {
      case e: IllegalArgumentException =>
        // delete the whole STAGED COMMIT DIR (c-xxxx), not just the
        // first file's parent — on a partitioned layout that parent is
        // one p__col=value subdir and the other partitions' files
        // would survive as orphans until vacuum
        var d = new Path(files.head).getParent
        while (d != null && !d.getName.startsWith("c-")) d = d.getParent
        fs(spark, table).delete(
          if (d != null) d else new Path(files.head).getParent, true)
        throw e
    }
  }

  /** Fail if `df` (a batch about to commit) violates any registered
    * constraint. One pass computing every constraint's violation count
    * together. */
  private def enforceConstraints(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val cs = constraints(spark, table)
    if (cs.isEmpty) return
    val aggs = cs.toSeq.sortBy(_._1).map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val violated = cs.toSeq.sortBy(_._1).zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n ($e): ${row.getLong(i)} rows"
    }
    if (violated.nonEmpty) throw new IllegalArgumentException(
      s"commit to $table refused — CHECK constraint(s) violated: " +
        violated.mkString("; "))
  }

  // ------------------------------------------------------------------
  // Stats-in-log: per-file column statistics captured AT COMMIT TIME
  // from the parquet FOOTERS the write already produced — Delta's
  // dataSkippingNumIndexedCols design. No data is scanned: footer
  // metadata is read once per committed file (driver, manifest-scale,
  // the same budget as the manifest write itself) and recorded in the
  // commit's manifest, so range pruning at read time is a pure log
  // fold. The same footer read records the files' Spark schema in the
  // manifest (Delta's `schemaString`), so building a read runs no
  // schema-inference job. Contrast Layout.zoneMap, which pays a
  // column-pruned SCAN to build and is maintained as a separate
  // artifact: stats-in-log
  // piggyback on every commit — append, COW rewrite, MOR insert,
  // compaction — and can never fall out of sync with the table.
  // ------------------------------------------------------------------

  /** Register the columns every subsequent commit records footer stats
    * for (persisted table property `stats.columns`). Files committed
    * BEFORE registration carry no stats and are simply never pruned
    * (no false negatives); rewrite or compact to backfill. ≤ 8 columns
    * — the stats ride in every manifest. */
  def setStatsColumns(spark: SparkSession, table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.size <= 8, "setStatsColumns: 1..8 columns")
    require(cols.forall(!_.startsWith("__")),
      "setStatsColumns: __-prefixed names are reserved (internal stats keys)")
    setProperty(spark, table, "stats.columns", cols.mkString(","))
  }

  /** Internal stats key carrying each file's ROW COUNT (recorded from
    * the same footer read as the column stats): min == max == rows. */
  private val rowCountKey = "__rowCount"

  private def statsColumns(spark: SparkSession, table: String): Seq[String] =
    properties(spark, table).get("stats.columns")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** One column's folded footer statistics for one file. `hasValues =
    * false` means every row is NULL (still prunable under a range
    * predicate — range predicates never match NULL). `min`/`max` are
    * Long ("long" raw integers, "ts" epoch micros, "date" epoch days),
    * Double ("double") or String ("string"). */
  private[graft] final case class ColStats(typ: String, min: Any, max: Any,
      nulls: Long, hasValues: Boolean)

  /** min/max/nullCount per requested TOP-LEVEL column from one parquet
    * footer, merged across row groups. A column whose statistics are
    * missing/unusable in ANY row group is omitted (conservative — the
    * file is then never pruned on it). The LOGICAL type annotation
    * decides both eligibility and the recorded stats type — recording
    * a physical int for a logically-annotated column would compare
    * un-decoded values against decoded bounds and prune WRONGLY (the
    * classic unscaled-DECIMAL hazard):
    *   - int32/int64 with no annotation or a plain integer annotation
    *     → "long";
    *   - int64 TIMESTAMP (MILLIS/MICROS) → "ts", normalized to epoch
    *     MICROS (MILLIS ×1000 is exact; NANOS is skipped — truncating
    *     its extrema could narrow the envelope);
    *   - int32 DATE → "date" (epoch days);
    *   - float/double → "double"; UTF8 binary → "string";
    *   - everything else — DECIMAL on any physical type, INT96, UUID,
    *     nested — is skipped (never recorded, never pruned). */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: String, cols: Set[String]): (Map[String, ColStats], Option[StructType]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val perCol = scala.collection.mutable.Map.empty[String, ColStats]
      val bad = scala.collection.mutable.Set.empty[String]
      // the file's row count rides along under a reserved key — the
      // basis of metadata-only COUNT(*) ([[countAt]])
      val rowTotal = blocks.map(_.getRowCount).sum
      perCol(rowCountKey) = ColStats("long", rowTotal, rowTotal, 0L, hasValues = true)
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (cols.contains(name) && !bad.contains(name)) {
            val s = cc.getStatistics
            val prim = cc.getPrimitiveType
            val logical = prim.getLogicalTypeAnnotation
            val tsUnit: Option[LogicalTypeAnnotation.TimeUnit] = logical match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                Some(t.getUnit)
              case _ => None
            }
            val plainInt = logical == null ||
              logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
            val typ = prim.getPrimitiveTypeName match {
              case INT32 if plainInt => "long"
              case INT32 if logical
                .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] => "date"
              case INT64 if plainInt => "long"
              case INT64 if tsUnit.contains(LogicalTypeAnnotation.TimeUnit.MILLIS) ||
                tsUnit.contains(LogicalTypeAnnotation.TimeUnit.MICROS) => "ts"
              case FLOAT | DOUBLE => "double"
              case BINARY
                if logical.isInstanceOf[
                  LogicalTypeAnnotation.StringLogicalTypeAnnotation] => "string"
              case _ => null
            }
            val tsScale =
              if (tsUnit.contains(LogicalTypeAnnotation.TimeUnit.MILLIS)) 1000L else 1L
            if (typ == null || s == null || !s.isNumNullsSet ||
                (s.isEmpty && b.getRowCount > 0)) {
              bad += name; perCol.remove(name)
            } else {
              val hasVals = s.hasNonNullValue
              def v(raw: Any): Any = typ match {
                case "long" | "date" => raw match {
                  case i: java.lang.Integer => i.longValue()
                  case l: java.lang.Long => l.longValue()
                }
                case "ts" => raw.asInstanceOf[java.lang.Long].longValue() * tsScale
                case "double" => raw match {
                  case f: java.lang.Float => f.doubleValue()
                  case d: java.lang.Double => d.doubleValue()
                }
                case "string" =>
                  raw.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              }
              val cur = ColStats(typ,
                if (hasVals) v(s.genericGetMin) else null,
                if (hasVals) v(s.genericGetMax) else null,
                s.getNumNulls, hasVals)
              val merged = perCol.get(name) match {
                case None => cur
                case Some(p) =>
                  if (!cur.hasValues) p.copy(nulls = p.nulls + cur.nulls)
                  else if (!p.hasValues) cur.copy(nulls = p.nulls + cur.nulls)
                  else ColStats(typ,
                    if (cmpStats(typ, cur.min, p.min) < 0) cur.min else p.min,
                    if (cmpStats(typ, cur.max, p.max) > 0) cur.max else p.max,
                    p.nulls + cur.nulls, hasValues = true)
              }
              perCol(name) = merged
            }
          }
        }
      }
      (perCol.toMap, sparkSchemaOf(reader))
    } finally reader.close()
  }

  /** The Spark schema a Spark writer stores in the footer's key-value
    * metadata — the schema Parquet inference reads back from that file
    * (`ParquetFileFormat.readSchemaFromFooter`). None for a file written
    * by another writer: its schema is left to inference. */
  private def sparkSchemaOf(reader: org.apache.parquet.hadoop.ParquetFileReader)
      : Option[StructType] =
    Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
      .collect { case st: StructType => st }

  /** True when `bound` is type-compatible with a column's stats type —
    * the guard that keeps pruning conservative: a numeric bound against
    * string stats (or vice versa) would compare lexicographically and
    * could WRONGLY prune, so mismatched bounds disable pruning for the
    * file instead (kept — no false negatives, ever). */
  private def boundComparable(typ: String, bound: Any): Boolean = typ match {
    case "string" => bound.isInstanceOf[String]
    case "ts" => bound match {
      case _: java.sql.Timestamp | _: java.time.Instant |
           _: java.time.LocalDateTime | _: Long => true
      case _ => false
    }
    case "date" => bound match {
      case _: java.sql.Date | _: java.time.LocalDate | _: Int | _: Long => true
      case _ => false
    }
    case _ => bound match {
      case _: Long | _: Int | _: Double | _: Float |
           _: java.math.BigDecimal => true
      case _ => false
    }
  }

  /** A "ts" bound as epoch MICROS — the unit the stats were normalized
    * to. `java.sql.Timestamp` / `Instant` map through their UTC instant
    * (matching how Spark stores TimestampType); `LocalDateTime` maps as
    * wall-clock-at-UTC (matching TimestampNTZ's storage); a raw Long is
    * taken as micros. */
  private def tsMicros(bound: Any): Long = bound match {
    case t: java.sql.Timestamp =>
      // floorDiv, not /: a pre-1970 timestamp with fractional seconds
      // has getTime truncate TOWARD ZERO (-500 ms / 1000 = 0, not -1),
      // which would shift the bound a full second and mis-prune
      java.lang.Math.addExact(
        java.lang.Math.multiplyExact(java.lang.Math.floorDiv(t.getTime, 1000L), 1000000L),
        (t.getNanos / 1000).toLong)
    case i: java.time.Instant =>
      java.lang.Math.addExact(java.lang.Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong)
    case l: java.time.LocalDateTime => tsMicros(l.toInstant(java.time.ZoneOffset.UTC))
    case l: Long => l
  }

  /** A "date" bound as epoch DAYS. */
  private def dateDays(bound: Any): Long = bound match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case i: Int => i.toLong
    case l: Long => l
  }

  /** Compare two stats/bound values under a column's stats type.
    * Long-vs-long compares exactly; any fractional operand promotes
    * both to double (exact for |v| < 2^53 — conservative enough for
    * pruning bounds). Strings compare as UNSIGNED UTF-8 BYTES — the
    * order parquet's binary min/max are extrema under; UTF-16 code-unit
    * order diverges past the BMP and would prune wrongly. */
  private def cmpStats(typ: String, a: Any, b: Any): Int = typ match {
    case "string" =>
      val u = java.nio.charset.StandardCharsets.UTF_8
      java.util.Arrays.compareUnsigned(
        a.toString.getBytes(u), b.toString.getBytes(u))
    case "ts" => java.lang.Long.compare(tsMicros(a), tsMicros(b))
    case "date" => java.lang.Long.compare(dateDays(a), dateDays(b))
    case _ =>
      (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Long) => java.lang.Long.compare(x.toLong, y)
        case (x: Long, y: Int) => java.lang.Long.compare(x, y.toLong)
        case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
        case _ =>
          def d(v: Any): Double = v match {
            case x: Long => x.toDouble
            case x: Int => x.toDouble
            case x: Double => x
            case x: Float => x.toDouble
            case x: java.math.BigDecimal => x.doubleValue()
          }
          java.lang.Double.compare(d(a), d(b))
      }
  }

  /** Read the footers of a manifest's files once: each file's stats
    * (keyed by [[statsKey]]; absent when the file yields none) and its
    * Spark schema (keyed the same way). */
  private def footerMeta(spark: SparkSession, table: String, files: Seq[String])
      : (Map[String, Map[String, ColStats]], Map[String, StructType]) = {
    val cols = statsColumns(spark, table)
    // cols may be EMPTY: the per-file row count is still recorded (the
    // Delta/Iceberg always-on numRecords) so metadata-only COUNT(*)
    // ([[countAt]], the DSv2 aggregate pushdown) and planner row
    // statistics work on every table, not just stats-columns ones. The
    // cost is one parallelized footer open per NEW file at commit —
    // O(new files) metadata reads the stats-columns path already paid.
    if (files.isEmpty) return (Map.empty, Map.empty)
    val conf = spark.sparkContext.hadoopConfiguration
    // footer opens are independent metadata reads — parallelize on a
    // bounded pool: a large compaction/overwrite commits 10³+ files and
    // serial opens would dominate the manifest write itself. Results
    // keep `files` order, so the manifest stays deterministic.
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(16, files.size))
    val stats =
      try {
        val futs = files.map { f =>
          pool.submit(new java.util.concurrent.Callable[(Map[String, ColStats], Option[StructType])] {
            def call(): (Map[String, ColStats], Option[StructType]) =
              footerStats(conf, f, cols.toSet)
          })
        }
        files.map(statsKey).zip(futs.map(_.get()))
      } finally pool.shutdown()
    (stats.collect { case (name, (st, _)) if st.nonEmpty => name -> st }.toMap,
      stats.collect { case (name, (_, Some(sc))) => name -> sc }.toMap)
  }

  private def writeFileStats(node: com.fasterxml.jackson.databind.node.ObjectNode,
      fileName: String, st: Map[String, ColStats]): Unit = {
    val fileNode = node.putObject(fileName)
    st.toSeq.sortBy(_._1).foreach { case (c, cs) =>
      val cn = fileNode.putObject(c)
      cn.put("t", cs.typ)
      cn.put("n", cs.nulls)
      if (cs.hasValues) cs.typ match {
        case "long" | "ts" | "date" =>
          cn.put("min", cs.min.asInstanceOf[Long])
          cn.put("max", cs.max.asInstanceOf[Long])
        case "double" =>
          cn.put("min", cs.min.asInstanceOf[Double])
          cn.put("max", cs.max.asInstanceOf[Double])
        case "string" =>
          cn.put("min", cs.min.asInstanceOf[String])
          cn.put("max", cs.max.asInstanceOf[String])
      }
    }
  }

  /** Canonical key of a data file in a manifest's stats node: the full
    * normalized path. File NAMES are NOT unique on a partitioned table
    * — one write job reuses `part-0000N-<jobUUID>` across every
    * partition directory it touches, so name-keyed stats silently
    * overwrote each other (wrong metadata row counts, and a wrongly
    * NARROW min/max envelope that could prune a file a query needed —
    * the r11 COUNT-pushdown test exposed it). Full paths are unique,
    * survive shallow clones (the clone's manifest references the
    * parent's absolute paths), and stay stable through the vacuum
    * horizon rewrite. */
  private def statsKey(f: String): String = new Path(f).toString

  /** Folded stats for one file: full-path key first, file-name fallback
    * for manifests written before the key change. The fold keeps those
    * name keys only on unpartitioned tables, where they are unambiguous:
    * a partitioned write reuses part names across partition dirs, so
    * there a name key may describe another file ([[statsFoldUncached]]). */
  private def fileStatsOf(folded: Map[String, Map[String, ColStats]],
      f: String): Option[Map[String, ColStats]] =
    folded.get(statsKey(f)).orElse(folded.get(new Path(f).getName))

  /** Re-serialize already-folded stats for `files` — used where a
    * manifest must become SELF-CONTAINED without re-opening footers
    * (the vacuum horizon rewrite, shallow clones). */
  private def statsNodeFromFold(folded: Map[String, Map[String, ColStats]],
      files: Seq[String]): Option[com.fasterxml.jackson.databind.node.ObjectNode] = {
    val node = mapper.createObjectNode()
    files.foreach { f =>
      fileStatsOf(folded, f).filter(_.nonEmpty)
        .foreach(writeFileStats(node, statsKey(f), _))
    }
    if (node.isEmpty) None else Some(node)
  }

  /** Fold recorded stats at-or-before `version` (first-wins by file
    * name, like provenance). Starts from the newest CHECKPOINT sidecar
    * at-or-before `version` when it carries a stats fold — O(commits
    * since checkpoint), the same budget as [[stateAt]]; a pre-stats
    * checkpoint (no stats node) falls back to the full manifest fold. */
  private def statsFold(spark: SparkSession, table: String,
      version: Long): Map[String, Map[String, ColStats]] = {
    val key = cacheKey(table, version)
    statsFoldCache.synchronized {
      val hit = statsFoldCache.get(key)
      if (hit != null) return hit
    }
    val e0 = epochOf(table)
    val folded = statsFoldUncached(spark, table, version)
    putFenced(statsFoldCache, table, e0, key, folded)
    folded
  }

  private def statsFoldUncached(spark: SparkSession, table: String,
      version: Long): Map[String, Map[String, ColStats]] = {
    val f = fs(spark, table)
    def parseStats(root: com.fasterxml.jackson.databind.JsonNode,
        acc: Map[String, Map[String, ColStats]]): Map[String, Map[String, ColStats]] = {
      val sNode = root.get("stats")
      if (sNode == null) return acc
      var m = acc
      sNode.properties().asScala.foreach { e =>
        val fileName = e.getKey
        if (!m.contains(fileName)) {
          val colMap = e.getValue.properties().asScala.map { ce =>
            val cn = ce.getValue
            val typ = cn.get("t").asText()
            val hasVals = cn.has("min")
            def read(field: String): Any =
              if (!hasVals) null
              else typ match {
                case "long" | "ts" | "date" => cn.get(field).asLong()
                case "double" => cn.get(field).asDouble()
                case "string" => cn.get(field).asText()
              }
            ce.getKey -> ColStats(typ, read("min"), read("max"),
              cn.get("n").asLong(), hasVals)
          }.toMap
          m += fileName -> colMap
        }
      }
      m
    }
    def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode = {
      val in = f.open(p)
      try mapper.readTree(in) finally in.close()
    }
    val ckptWithStats = checkpoints(spark, table).filter(_ <= version)
      .sorted.reverse.iterator
      .map(cv => readJson(checkpointFile(table, cv)) -> cv)
      .find(_._1.get("stats") != null)
    val (base, from) = ckptWithStats match {
      case Some((node, cv)) => (parseStats(node, Map.empty), cv)
      case None => (Map.empty[String, Map[String, ColStats]], -1L)
    }
    // manifests newer than the checkpoint fold on top; first-wins keeps
    // the checkpoint's (identical) entries for re-listed files
    val folded = versions(spark, table).filter(v => v > from && v <= version).sorted
      .foldLeft(base) { (acc, v) => parseStats(readJson(versionFile(table, v)), acc) }
    // name keys (a path key always holds a '/') come from manifests
    // written before stats were keyed by path; on a partitioned table
    // they collide across partition dirs, so its files fall back to
    // "no stats": never pruned, and COUNT(*) is counted, not summed
    if (partitionColumnsOf(spark, table).isEmpty) folded
    else folded.filter(_._1.contains('/'))
  }

  /** What a predicate lets a read skip, from its conjuncts: equality or
    * `IS NULL` (`partitionEq`) and `IN` (`partitionIn`) on registered
    * partition columns, matched by path parsing; and open-ended stats
    * bands (`bands`: per column, either side optional), checked against
    * each file's recorded min/max. */
  private final case class Skipping(partitionEq: Map[String, Any],
      partitionIn: Map[String, Seq[Any]],
      bands: Map[String, (Option[Any], Option[Any])]) {
    def describe: String =
      (if (partitionEq.nonEmpty || partitionIn.nonEmpty)
        (partitionEq.keys ++ partitionIn.keys).mkString(" partPrune=[", ",", "]") else "") +
        (if (bands.nonEmpty) bands.keys.mkString(" statsBands=[", ",", "]") else "")
  }

  /** The skipping hints `where` yields for `st` (none for an empty
    * state, which has no schema to resolve against). The predicate is
    * resolved against an empty relation of the schema a read of `st`
    * has (analysis only, no job); constant folding and cast unwrapping
    * let a literal of a wider type (`int_col >= 5L`) still bound the
    * column. An AND-ed conjunct comparing a column with a literal (`=`,
    * `<`, `<=`, `>`, `>=`), testing it `IS NULL`, or listing literals
    * with `IN` may become a hint; anything else (OR, UDFs, a cast
    * column) gives none. Bounds weaker than exact are safe, as the read
    * re-applies `where`: first-seen per side suffices, and a strict `>`
    * sharing its bound with the inclusive band keeps at most one
    * boundary file too many. */
  private def skipping(spark: SparkSession, table: String, st: State,
      where: Column): Skipping = {
    if (st.files.isEmpty) return Skipping(Map.empty, Map.empty, Map.empty)
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryComparison, Expression, In, IsNull, Literal}
    import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, UnwrapCastInBinaryComparison}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val analyzed = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schemaOf(spark, table, st.files, st.schemas))
      .where(where).queryExecution.analyzed
    val cond = UnwrapCastInBinaryComparison(ConstantFolding(analyzed))
      .collectFirst { case Filter(c, _) => c }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val conj = cond.toSeq.flatMap(conjuncts)
    def value(l: Literal): Any = convertToScala(l.value, l.dataType)
    // comparisons of a column with a literal, column on the left:
    // (column, operator, value)
    val flipped = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=", "=" -> "=")
    val cmps = conj.collect {
      case b: BinaryComparison if flipped.contains(b.symbol) => (b.left, b.right) match {
        case (a: AttributeReference, l: Literal) => Some((a.name, b.symbol, value(l)))
        case (l: Literal, a: AttributeReference) => Some((a.name, flipped(b.symbol), value(l)))
        case _ => None
      }
    }.flatten
    val partCols = partitionColumnsOf(spark, table).toSet
    // a partition value Spark renders differently from its toString
    // (timestamps, decimals) cannot be matched by path: no hint
    def renders(v: Any) = scala.util.Try(renderPartValue(v)).isSuccess
    val partEq: Map[String, Any] = (cmps.collect {
      case (a, "=", v) if partCols(a) && renders(v) => a -> v
    } ++ conj.collect {
      case IsNull(a: AttributeReference) if partCols(a.name) => a.name -> (null: Any)
    }).toMap
    val partIn: Map[String, Seq[Any]] = conj.collect {
      case In(a: AttributeReference, list) if partCols(a.name) && !partEq.contains(a.name) &&
          list.forall(_.isInstanceOf[Literal]) =>
        a.name -> list.map(l => value(l.asInstanceOf[Literal]))
    }.filter(_._2.forall(renders)).toMap
    val lo = scala.collection.mutable.Map[String, Any]()
    val hi = scala.collection.mutable.Map[String, Any]()
    cmps.foreach { case (a, op, v) =>
      if (v != null) {
        if (op != "<" && op != "<=") lo.getOrElseUpdate(a, v)
        if (op != ">" && op != ">=") hi.getOrElseUpdate(a, v)
      }
    }
    Skipping(partEq, partIn,
      (lo.keySet ++ hi.keySet).iterator.map(c => c -> (lo.get(c), hi.get(c))).toMap)
  }

  /** `st`'s files (version `v`) that may hold a row matching `where` — a
    * no-false-negative superset: a file survives every partition hint
    * its path satisfies, and every stats band unless its recorded
    * envelope is disjoint from the band or all-NULL (range predicates
    * never match NULL). Files with no recorded stats and bounds whose
    * type does not match the column's stats (a numeric bound against
    * string stats would compare lexicographically) never prune. Pure
    * log fold: no data file is opened. */
  private def survivors(spark: SparkSession, table: String, v: Long, st: State,
      where: Column): Seq[String] = {
    val sk = skipping(spark, table, st, where)
    lazy val folded = statsFold(spark, table, v)
    def inBand(f: String) = sk.bands.forall { case (c, (lo, hi)) =>
      fileStatsOf(folded, f).flatMap(_.get(c)) match {
        case None => true
        case Some(cs) if (lo ++ hi).exists(!boundComparable(cs.typ, _)) => true
        case Some(cs) => cs.hasValues &&
          lo.forall(b => cmpStats(cs.typ, cs.max, b) >= 0) &&
          hi.forall(b => cmpStats(cs.typ, cs.min, b) <= 0)
      }
    }
    st.files.filter(f => partitionMatches(f, sk.partitionEq) &&
      sk.partitionIn.forall { case (c, vs) => vs.exists(x => partitionMatches(f, Map(c -> x))) } &&
      inBand(f))
  }

  /** Visible files of `version` (default latest) that may hold a row
    * matching `where` — the survivor set [[read]] with a predicate
    * scans. Planning only: no data file is opened. */
  def prunedFiles(spark: SparkSession, table: String, where: Column,
      version: Option[Long] = None): Seq[String] = {
    val v = versionOrLatest(spark, table, version)
    survivors(spark, table, v, stateAt(spark, table, v), where)
  }

  /** The skipping hints a read of `version` derives from `where`, as
    * the SQL scan describes them (`partPrune=[…] statsBands=[…]`). */
  private[graft] def describeSkipping(spark: SparkSession, table: String,
      version: Long, where: Column): String =
    skipping(spark, table, stateAt(spark, table, version), where).describe

  /** Metadata-only COUNT(*) at `version` (default latest): sums the
    * per-file row counts recorded at commit time from the write's own
    * footers — ZERO data files opened, pure log fold; standing
    * deletion vectors subtract via one sidecar-scale aggregation
    * (positions are unique across sidecars by construction — MOR
    * writes exclude already-deleted rows). Returns None when any
    * visible file predates stats recording (committed before
    * [[setStatsColumns]]) — fall back to `read().count()`. On a 100 TB
    * table this answers the most common query ever issued without
    * touching a data byte. */
  def countAt(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[Long] = {
    val v = versionOrLatest(spark, table, version)
    val st = stateAt(spark, table, v)
    fileRowTotalAt(spark, table, v).map { total =>
      if (st.dvs.isEmpty) total
      else {
        val visible = st.files.map(new Path(_).toString).toSet
        val dead = dvRefsOf(spark, st.dvs, st.dvRefs)
          .filter(r => visible.contains(normPath(r.file))).map(_.rows).sum
        total - dead
      }
    }
  }

  /** Sum of the per-file committed row counts visible at `version` —
    * the deletion-vector-blind UPPER BOUND [[countAt]] refines (exact
    * when the state carries no DVs). Pure cached log fold, never a
    * Spark job — cheap enough for the DSv2 scan's
    * `estimateStatistics`. None when any visible file predates stats
    * recording. */
  private[graft] def fileRowTotalAt(spark: SparkSession, table: String,
      version: Long): Option[Long] = {
    val st = stateAt(spark, table, version)
    val folded = statsFold(spark, table, version)
    val per = st.files.map(f =>
      fileStatsOf(folded, f).flatMap(_.get(rowCountKey))
        .collect { case cs if cs.hasValues => cs.min.asInstanceOf[Long] })
    if (per.exists(_.isEmpty)) None else Some(per.map(_.get).sum)
  }

  /** TIMESTAMP AS OF: read the newest version whose commit time is
    * at-or-before `tsMillis` (manifest `ts`, driver clock at commit) —
    * the wall-clock twin of version time travel. Loud when `tsMillis`
    * predates the first retained commit (vacuum may have truncated
    * older history). */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"no snapshot committed at $table")
    val at = vs.map(v => v -> readManifest(spark, table, v).ts)
      .filter(_._2 <= tsMillis).map(_._1).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"readAsOf: $tsMillis predates the first retained commit of $table " +
            "(earlier history may have been vacuumed)"))
    read(spark, table, Some(at))
  }

  /** Rows ADDED in versions (`fromExclusive`, `toInclusive`] — the
    * incremental-read contract that turns a snapshot table into a
    * change feed: a downstream consumer (incremental [[MaterializedAgg]]
    * refresh, an index append, a replication job) reads ONLY the new
    * commits' files instead of rescanning the table. Append-only by
    * design: an OVERWRITE inside the range is a full-recompute signal,
    * not expressible as added rows, so it fails loudly rather than
    * returning a wrong delta. Empty range → empty relation with the
    * table's schema. */
  def readChanges(spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    require(fromExclusive <= toInclusive,
      s"readChanges: empty-or-negative range ($fromExclusive, $toInclusive]")
    val vs = versions(spark, table)
    require(vs.contains(toInclusive) &&
      (fromExclusive == -1L || vs.contains(fromExclusive)),
      s"readChanges: versions ($fromExclusive, $toInclusive] not all present " +
        "(vacuumed?)")
    val range = vs.filter(v => v > fromExclusive && v <= toInclusive)
      .map(readManifest(spark, table, _))
      // CONTENT-NEUTRAL housekeeping (compaction, DV purge) never
      // changes the logical rows — change feeds read through it
      .filterNot(_.neutral)
    range.find(m => m.action == "overwrite" || m.action == "replace" ||
        m.action == "dv").foreach { m =>
      throw new IllegalArgumentException(
        s"readChanges: version ${m.version} is an ${m.action.toUpperCase} — " +
          "the range is not an append delta; use changeFeed for dv ranges, " +
          "or re-read the full snapshot after DML")
    }
    readFiles(spark, table, range.flatMap(_.files), range.flatMap(_.schemas).toMap)
  }

  /** CHANGE DATA FEED over a version range `(fromExclusive,
    * toInclusive]`: every row change as (table columns..,
    * `_change_type` ∈ insert | delete) — what an incremental consumer
    * needs to maintain a downstream table over a MERGE-ON-READ source
    * (fold inserts with [[MaterializedAgg.merge]], deletes with
    * [[MaterializedAgg.retract]] — no history rescan). Appends and
    * `dv` commits' new files emit inserts; `dv` commits' deletion
    * vectors emit DELETES WITH FULL ROW CONTENT (the positions
    * semi-join their immutable source files — O(dirty files +
    * deletions), never O(table)). Content-neutral housekeeping
    * (compaction, purge) emits nothing; a copy-on-write replace or
    * plain overwrite still refuses loudly — its before/after diff is
    * not recorded (land row-level DML as MOR to get a consumable
    * feed). A MOR upsert emits its matched rows as delete + insert —
    * the standard CDF pairing. */
  def changeFeed(spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    require(fromExclusive <= toInclusive,
      s"changeFeed: empty-or-negative range ($fromExclusive, $toInclusive]")
    val vs = versions(spark, table)
    require(vs.contains(toInclusive) &&
      (fromExclusive == -1L || vs.contains(fromExclusive)),
      s"changeFeed: versions ($fromExclusive, $toInclusive] not all present " +
        "(vacuumed?)")
    val range = vs.filter(v => v > fromExclusive && v <= toInclusive)
      .map(readManifest(spark, table, _))
      .filterNot(_.neutral)
    range.find(m => m.action == "overwrite" || m.action == "replace").foreach { m =>
      throw new IllegalArgumentException(
        s"changeFeed: version ${m.version} is a non-neutral " +
          s"${m.action.toUpperCase} — its row-level before/after diff is " +
          "not recorded; land DML merge-on-read (deleteWhereMor/" +
          "mergeIntoMor) to get a consumable feed")
    }
    val rangeSchemas = range.flatMap(_.schemas).toMap
    val ins = readFiles(spark, table, range.flatMap(_.files), rangeSchemas)
      .withColumn("_change_type", lit("insert"))
    val dvCommits = range.filter(_.action == "dv")
    val dvParts = dvCommits.flatMap(_.dvs)
    if (dvParts.isEmpty) return ins
    val dv = readDvs(spark, dvParts)
    // the deleted rows' content lives in their (immutable) source
    // files — scan only those, keep the listed positions (decoded to
    // literal names: the stored strings are URI-encoded)
    val dvFiles = dvRefsOf(spark, dvParts, dvCommits.flatMap(_.dvRefs).toMap)
      .map(r => normPath(r.file)).distinct.sorted
    val dels = positionsSemi(spark, scanFiles(spark, table, dvFiles,
      stateAt(spark, table, toInclusive).schemas ++ rangeSchemas), dv)
      .withColumn("_change_type", lit("delete"))
    ins.unionByName(dels)
  }

  /** Rows of `scan` (a read of exactly the position-referenced files,
    * `_metadata` available) LISTED in `positions` — the SEMI twin of
    * the read path's DV subtraction, with the same two plans: in-scan
    * bitmap probe within [[dvBitmapMaxBytes]] (no join operator —
    * delete-content extraction at scan speed), broadcast semi-join
    * past it. Duplicate positions are naturally absorbed either way. */
  private def positionsSemi(spark: SparkSession, scan: DataFrame,
      positions: DataFrame): DataFrame = {
    val perFile = positions.groupBy(col("file_path"))
      .agg(max(col("row_index")).as("max_ri")).collect()
    val bitmapBytes = perFile.map(r => ((r.getLong(1) >>> 6) + 1L) * 8L).sum
    if (bitmapBytes <= dvBitmapMaxBytes) {
      val bc = graft.expr.DvBitmap.buildBroadcast(spark, positions)
      scan.where(graft.expr.DvBitmap.deleted(bc,
        col("_metadata.file_path"), col("_metadata.row_index")))
    } else {
      val s = scan
        .withColumn("__graft_fp", col("_metadata.file_path"))
        .withColumn("__graft_ri", col("_metadata.row_index"))
      s.join(positions,
        s("__graft_fp") === positions("file_path") &&
          s("__graft_ri") === positions("row_index"), "left_semi")
        .drop("__graft_fp", "__graft_ri")
    }
  }

  /** Total per-file-bitmap budget (driver + broadcast bytes) under
    * which a DV'd read uses the IN-SCAN bitmap filter; past it (a mass
    * delete over huge files) the read falls back to the anti-join,
    * which is deletion-COUNT-sized instead of locality-sized. One word
    * per 64 rows of each dirty file's max deleted index — at the
    * default, ~200 dirty 10 M-row files fit. Test seam. */
  private[graft] var dvBitmapMaxBytes: Long = 256L << 20

  /** Scan a state, subtracting its deletion vectors (merge-on-read).
    * Files with no DV rows scan PLAIN — no subtraction anywhere near
    * them, so at 100 TB the read debt is bounded by the DIRTY file set
    * (deletion-locality-sized), not the table.
    *
    * Dirty files are filtered by one of two result-identical plans:
    *
    *   - IN-SCAN BITMAP (default, within [[dvBitmapMaxBytes]]): per-file
    *     delete bitmaps built distributively from the sidecar,
    *     broadcast, and probed by [[graft.expr.DvBitmapDeleted]] inside
    *     the scan's whole-stage codegen — two array reads and a mask
    *     per row, NO join operator in the plan (Delta's in-reader DV
    *     bitmap, expressed at the Spark API level). The round-7 probe
    *     measured the anti-join alternative at ~4.5 s per 60 M rows —
    *     Spark's join floor, which the bitmap goes under because the
    *     scan filters itself.
    *   - BROADCAST ANTI-JOIN (fallback for mass deletes past the bitmap
    *     budget): dirty files anti-join the sidecar on dictionary-coded
    *     `(file_id, row_index)` — the DV side is deletion-sized
    *     (int, long) pairs, so Catalyst broadcasts far into mass-delete
    *     territory and only then degrades to a shuffled join. */
  private def readState(spark: SparkSession, table: String, st: State,
      mergeSchema: Boolean = false,
      decorate: DataFrame => DataFrame = identity): DataFrame = {
    val files = (fs: Seq[String]) =>
      decorate(readFiles(spark, table, fs, st.schemas, mergeSchema))
    if (st.dvs.isEmpty) return files(st.files)
    val dv = readDvs(spark, st.dvs)
    // dirty = visible files holding at least one DV row (driver-side,
    // file-scale; manifest paths are FS-qualified, DV paths URI-form —
    // normalize both through hadoop Path, like touchedFiles), each with
    // its max deleted row index — the bitmap budget. The log's DvRef
    // summaries answer both, so building the read runs no job (sidecars
    // committed before the summaries cost one sidecar-scale aggregate).
    val perFile = dvRefsOf(spark, st.dvs, st.dvRefs).groupMapReduce(_.file)(_.maxRow)(math.max)
    val dvFiles = perFile.keys.map(normPath).toSet
    val (dirty, clean) = st.files.partition(f => dvFiles.contains(new Path(f).toString))
    if (dirty.isEmpty) return files(st.files)
    val dirtyNorm = dirty.map(new Path(_).toString).toSet
    // DV rows whose file is no longer visible (rewritten away) are
    // stale-but-harmless: excluded from the budget, the bitmap build,
    // and the dictionary alike
    val livePerFile = perFile.filter(e => dirtyNorm.contains(normPath(e._1)))
    val bitmapBytes = livePerFile.values.map(m => ((m >>> 6) + 1L) * 8L).sum
    val scan = files(dirty)
    val applied =
      if (bitmapBytes <= dvBitmapMaxBytes) {
        val liveRaw = livePerFile.keys.toSeq.sorted
        val dvLive =
          if (liveRaw.length == perFile.size) dv
          else dv.join(
            broadcast(spark.createDataset(liveRaw)(org.apache.spark.sql.Encoders.STRING)
              .toDF("file_path")),
            Seq("file_path"), "left_semi")
        val bc = graft.expr.DvBitmap.cachedBroadcast(spark, st.dvs, liveRaw, dvLive)
        scan.where(!graft.expr.DvBitmap.deleted(bc,
          col("_metadata.file_path"), col("_metadata.row_index")))
      } else {
        val dvPaths = livePerFile.keys.toSeq.sorted
        val fid = typedLit(dvPaths.zipWithIndex.toMap)
        val coded = scan
          .withColumn("__graft_fid", element_at(fid, col("_metadata.file_path")))
          .withColumn("__graft_ri", col("_metadata.row_index"))
        val dvSlim = dv.select(element_at(fid, col("file_path")).as("__dv_fid"),
          col("row_index").as("__dv_ri"))
        coded.join(dvSlim,
          coded("__graft_fid") === dvSlim("__dv_fid") &&
            coded("__graft_ri") === dvSlim("__dv_ri"),
          "left_anti").drop("__graft_fid", "__graft_ri")
      }
    if (clean.isEmpty) applied
    else applied.unionByName(files(clean), allowMissingColumns = mergeSchema)
  }

  /** Scan exactly `files` (`schemas`: what the log recorded for them);
    * an empty list resolves to an empty relation with the schema of the
    * first file the log knows (the commit-dir layout is nested, so a
    * bare directory read cannot infer it). `mergeSchema` unions the
    * per-file schemas by reading every footer in a Spark job — schema
    * EVOLUTION: a commit that added a column surfaces it table-wide,
    * with NULLs for rows from older commits (parquet's own merge
    * semantics; only widening by new nullable columns is safe — parquet
    * fails loudly on an incompatible type change at read time). */
  private def readFiles(spark: SparkSession, table: String,
      files: Seq[String], schemas: Map[String, StructType],
      mergeSchema: Boolean = false): DataFrame =
    if (files.isEmpty) {
      val m = versions(spark, table).iterator.map(readManifest(spark, table, _))
        .find(_.files.nonEmpty)
      require(m.nonEmpty, s"snapshot table $table has no data files to take a schema from")
      scanFiles(spark, table, m.get.files.take(1), m.get.schemas).limit(0)
    } else if (mergeSchema)
      spark.read.option("mergeSchema", "true").parquet(files: _*)
    else scanFiles(spark, table, files, schemas)

  /** Scan exactly `files` (non-empty) with the schema a plain
    * `spark.read.parquet(files…)` would infer, without the Spark job
    * that inference runs. Parquet's non-merging inference takes the
    * Spark schema of ONE file — the one whose path sorts first — and the
    * relation makes it nullable, as it does a given schema. That file's
    * schema comes from the log (`schemas`, recorded at commit); a file
    * committed before the log recorded schemas has it read from its
    * footer on the driver, or inferred where the footer holds no Spark
    * schema, once per file ([[schemaOfFile]]). */
  private def scanFiles(spark: SparkSession, table: String, files: Seq[String],
      schemas: Map[String, StructType]): DataFrame =
    spark.read.schema(schemaOf(spark, table, files, schemas)).parquet(files: _*)

  /** The schema a plain read of `files` (non-empty) infers: that of the
    * file whose path sorts first (see [[scanFiles]]). */
  private def schemaOf(spark: SparkSession, table: String, files: Seq[String],
      schemas: Map[String, StructType]): StructType = {
    val first = statsKey(files.minBy(new Path(_).toString))
    schemas.getOrElse(first, schemaOfFile(spark, table, first))
  }

  /** Schemas of files the log did not record one for, per table and
    * file, fenced like the other snapshot caches. */
  private val fileSchemaCache = lruCache[StructType](4096)

  private def schemaOfFile(spark: SparkSession, table: String, file: String): StructType = {
    val key = table + "#f" + file
    fileSchemaCache.synchronized {
      val hit = fileSchemaCache.get(key)
      if (hit != null) return hit
    }
    val e0 = epochOf(table)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), spark.sparkContext.hadoopConfiguration)
    val footer = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try sparkSchemaOf(reader) finally reader.close()
    }
    val s = footer.getOrElse(spark.read.parquet(file).schema)
    putFenced(fileSchemaCache, table, e0, key, s)
    s
  }

  /** DV sidecars are `(file_path, row_index)` frames; reading them with
    * that schema skips inference. */
  private val dvSchema = StructType.fromDDL("file_path STRING, row_index LONG")

  private def readDvs(spark: SparkSession, parts: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(parts: _*)

  /** The [[DvRef]] summary of each of `dvs`: from `known` (the log)
    * where recorded, else from one sidecar-scale aggregate over the
    * sidecars committed before the log recorded them. */
  private def dvRefsByPart(spark: SparkSession, dvs: Seq[String],
      known: Map[String, Seq[DvRef]]): Seq[(String, Seq[DvRef])] = {
    val missing = dvs.filterNot(p => known.contains(statsKey(p)))
    val summarized = if (missing.isEmpty) Map.empty[String, Seq[DvRef]]
      else summarizeDvs(spark, missing)
    dvs.map(p => p -> known.getOrElse(statsKey(p), summarized.getOrElse(statsKey(p), Nil)))
  }

  private def dvRefsOf(spark: SparkSession, dvs: Seq[String],
      known: Map[String, Seq[DvRef]]): Seq[DvRef] =
    dvRefsByPart(spark, dvs, known).flatMap(_._2)

  /** Per sidecar (keyed by [[statsKey]]): the data files it marks rows
    * in, with count and max row index. One aggregate over the sidecars. */
  private def summarizeDvs(spark: SparkSession,
      parts: Seq[String]): Map[String, Seq[DvRef]] =
    readDvs(spark, parts)
      .groupBy(col("_metadata.file_path"), col("file_path"))
      .agg(count(lit(1)), max(col("row_index"))).collect().toSeq
      .groupMap(r => normPath(r.getString(0)))(r =>
        DvRef(r.getString(1), r.getLong(2), r.getLong(3)))

  /** ROW PROVENANCE read: [[read]] plus a `_commit_version` column —
    * the version whose commit FIRST wrote each row's file (audit /
    * lineage: "when did this row land"). Mechanics: the log already
    * knows which version added every file; the map ships as a literal
    * keyed by part FILENAME (globally unique — Spark embeds the write
    * job's UUID), sidestepping the FS-qualified-vs-URI path spelling.
    * Rows carried through a copy-on-write rewrite are re-stamped with
    * the rewrite's version (their file was rewritten then); rows
    * deleted merge-on-read are absent, not stamped. Driver cost is
    * manifest-scale; per-row cost is one literal-map lookup. */
  /** Above this many files the provenance map ships as a BROADCAST
    * relation joined on filename instead of a plan literal — a
    * 10⁵–10⁶-file table would otherwise embed a multi-MB literal in
    * every query plan (serialized per task, re-analyzed per query).
    * Test seam. */
  private[graft] var provenanceLiteralMax: Int = 10000

  def readWithVersion(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val v = versionOrLatest(spark, table, version)
    val nameVer: Map[String, Long] = versions(spark, table)
      .filter(_ <= v).sorted
      .flatMap { mv =>
        val m = readManifest(spark, table, mv)
        m.files.map(f => new Path(f).getName -> m.version)
      }
      // first-wins: a restore/overwrite re-lists files added earlier;
      // the row's provenance is its file's ORIGINAL commit
      .foldLeft(Map.empty[String, Long]) { case (acc, (n, mv)) =>
        if (acc.contains(n)) acc else acc + (n -> mv)
      }
    val fileName = element_at(split(col("_metadata.file_path"), "/"), -1)
    val decorate: DataFrame => DataFrame =
      if (nameVer.size <= provenanceLiteralMax) {
        val ver = typedLit(nameVer)
        df => df.withColumn("_commit_version", element_at(ver, fileName))
      } else {
        // file-scale side shipped once per executor via broadcast, not
        // per task inside the plan; the per-row cost is the same hash
        // probe the literal paid
        val verDf = spark.createDataFrame(nameVer.toSeq)
          .toDF("__graft_file_name", "_commit_version")
        df => df.withColumn("__graft_fn", fileName)
          .join(broadcast(verDf),
            col("__graft_fn") === col("__graft_file_name"), "left")
          .drop("__graft_fn", "__graft_file_name")
      }
    readState(spark, table, stateAt(spark, table, v), decorate = decorate)
  }

  /** [[read]] with schema evolution: the visible schema is the UNION of
    * the version's commits' schemas (new nullable columns appear with
    * NULLs for pre-evolution rows). Kept separate from [[read]] because
    * footer-merging costs a per-file schema read at planning time —
    * pay it when the table actually evolves. */
  def readEvolved(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val v = versionOrLatest(spark, table, version)
    readState(spark, table, stateAt(spark, table, v), mergeSchema = true)
  }

  /** Transactional OPTIMIZE: rewrite the latest version's (typically
    * many small streaming-batch) files as one content-neutral `replace`
    * commit with `targetRowsPerFile`-bounded files, optionally
    * Z-ordered for the skipping layer. Readers never see a
    * half-compacted table — the manifest rename is the switch — and
    * prior versions stay time-travelable until vacuum.
    *
    * Concurrency: committed as a REPLACE of exactly the files it read
    * (not an overwrite of the whole state), so it COMMUTES with
    * concurrent appends and with disjoint DML — on a live streaming
    * table the compaction lands and the racing batch's files are
    * carried through the fold untouched. Only a racing rewrite of a
    * file being compacted (or a racing MOR delete against one)
    * conflicts — the same scoped rules as copy-on-write deletes.
    * A full-table rewrite is still O(table); on a large table prefer
    * [[compactSmall]], which bin-packs only undersized files.
    * Returns the new version. */
  def compactLatest(spark: SparkSession, table: String,
      targetRowsPerFile: Long, zorderCols: Seq[String] = Seq.empty): Long = {
    require(targetRowsPerFile > 0, "compactLatest: targetRowsPerFile must be > 0")
    val base = versionOrLatest(spark, table)
    val st = stateAt(spark, table, base)
    val snap = readState(spark, table, st)
    val laid =
      if (zorderCols.size >= 2) Layout.zorderBy(snap, zorderCols)
      else snap
    commitAction(spark, table, laid, "replace", batchId = None,
      maxRecordsPerFile = Some(targetRowsPerFile),
      removed = st.files, removedDvs = st.dvs, baseDvs = Some(st.dvs.toSet),
      neutral = true)
  }

  /** Bounded INCREMENTAL compaction — the housekeeping shape that
    * survives a live 100 TB streaming table: select only the
    * UNDERSIZED files (length < `smallFileMaxBytes`), rewrite just
    * those bin-packed to `targetRowsPerFile`, and commit a
    * content-neutral `replace` of exactly that set. Cost is O(small
    * files), never O(table), and the commit commutes with concurrent
    * appends and disjoint DML via the scoped conflict rules (a racing
    * append's new small file is simply picked up by the NEXT run — no
    * starvation, unlike a whole-state overwrite that conflicts with
    * every concurrent commit). Merge-on-read DVs against the selected
    * files are folded in (the rewrite reads through them; a DV that
    * lands mid-run conflicts and the run is retried). File sizes come
    * from one `listStatus` per commit directory — manifest-scale
    * driver work. Returns the [[Cow]] footprint (version None when
    * fewer than `minFiles` files qualify — nothing worth folding). */
  def compactSmall(spark: SparkSession, table: String,
      targetRowsPerFile: Long, smallFileMaxBytes: Long,
      minFiles: Int = 2): Cow = {
    require(targetRowsPerFile > 0, "compactSmall: targetRowsPerFile must be > 0")
    val base = versionOrLatest(spark, table)
    val st = stateAt(spark, table, base)
    val f = fs(spark, table)
    // one listStatus per parent commit dir, not one RPC per file
    val sizes: Map[String, Long] = st.files.map(new Path(_).getParent).distinct
      .flatMap(d => f.listStatus(d).map(s => s.getPath.toString -> s.getLen))
      .toMap
    val small = st.files
      .filter(p => sizes.get(new Path(p).toString).exists(_ < smallFileMaxBytes))
      .sorted
    if (small.size < math.max(minFiles, 2)) return Cow(None, 0, st.files.size)
    // sidecars whose every LIVE reference is being compacted away are
    // retired with the rewrite — without this they stay visible forever
    // and every subsequent read re-scans them for rows that are 100%
    // stale. A sidecar touching any surviving file stays (its rows for
    // compacted files become stale-but-harmless); one sidecar-scale
    // scan, only when DVs exist at all.
    val smallNorm = small.map(new Path(_).toString).toSet
    val visibleNorm = st.files.map(new Path(_).toString).toSet
    val retiredDvs =
      if (st.dvs.isEmpty) Seq.empty[String]
      else {
        dvRefsByPart(spark, st.dvs, st.dvRefs).collect {
          case (p, refs) if refs.forall { r =>
            val f = normPath(r.file)
            smallNorm.contains(f) || !visibleNorm.contains(f)
          } => p
        }.sorted
      }
    // bin-pack ~packFactor small files per write task; maxRecordsPerFile
    // still splits any task that packs past the row target, so output
    // files are bounded above by rows and below by the packing
    val packFactor = 8
    val packed = readFilesWithDvs(spark, table, st, small)
      .coalesce(math.max(1, small.size / packFactor))
    val v = commitAction(spark, table, packed, "replace", batchId = None,
      maxRecordsPerFile = Some(targetRowsPerFile),
      removed = small, removedDvs = retiredDvs,
      baseDvs = Some(st.dvs.toSet), neutral = true)
    Cow(Some(v), small.size, st.files.size)
  }

  /** Idempotent micro-batch append for `foreachBatch` — the streaming
    * sink contract: Structured Streaming replays a batch after a crash,
    * so the sink must make `(batchId → commit)` exactly-once. The
    * manifest records the batchId; a replay of an ALREADY-COMMITTED
    * batch is a no-op (its data was durably committed — the rename
    * happened), so the table never double-counts. Returns the version,
    * or None for a skipped replay.
    * {{{ stream.writeStream.foreachBatch { (df, id) =>
    *       Snapshots.commitBatch(spark, table, df, id); () } }}} */
  def commitBatch(spark: SparkSession, table: String, df: DataFrame,
      batchId: Long): Option[Long] = {
    if (batchCommitted(spark, table, batchId)) None
    else Some(commitWith(spark, table, df, overwrite = false, Some(batchId)))
  }

  /** Whether a manifest already records `batchId` — the replay check of
    * the exactly-once `foreachBatch` sinks. */
  private def batchCommitted(spark: SparkSession, table: String, batchId: Long): Boolean =
    versions(spark, table).exists(readManifest(spark, table, _).batchId.contains(batchId))

  /** Outcome of a copy-on-write commit: the committed version (None if
    * nothing matched — no commit was made) and the rewrite's footprint,
    * `filesRewritten` of `filesVisible` — the number a 100 TB operator
    * watches: a selective delete on a clustered layout should touch a
    * handful of files, not the table. `filesDropped` counts files
    * removed METADATA-ONLY (every row matched, so nothing was
    * rewritten — [[deleteRange]]'s fast path); `dvRows` counts rows a
    * merge-on-read commit marked dead in a deletion vector
    * ([[deleteWhereMor]]/[[mergeIntoMor]]: filesRewritten stays 0). */
  final case class Cow(version: Option[Long], filesRewritten: Int,
      filesVisible: Int, filesDropped: Int = 0, dvRows: Long = 0L)

  /** Files of the LATEST version that contain at least one row matching
    * `cond` — the touched set a copy-on-write rewrite is limited to.
    * One column-pruned scan (only `cond`'s columns + file metadata
    * reach the parquet reader); the result is file-path-scale.
    * `candidates` optionally narrows the scan to a pre-pruned subset —
    * compose with [[Layout.zoneMapFiles]] / [[Layout.bloomIndexFiles]]
    * so discovery itself skips files the index already rules out. */
  def touchedFiles(spark: SparkSession, table: String, cond: Column,
      candidates: Option[Seq[String]] = None): Seq[String] = {
    val st = stateAt(spark, table, versionOrLatest(spark, table))
    val scan = scanSet(st, candidates)
    if (scan.isEmpty) return Seq.empty
    touchedFilesPlan(spark, table, scan, cond, st.schemas).collect()
      // normalize through hadoop Path: the manifest stores
      // FileSystem-qualified paths, _metadata a URI form
      .map(r => normPath(r.getString(0))).toSeq.sorted
  }

  /** The visible files of `st` a discovery scan covers: those named in
    * `candidates` (a pre-pruned subset), else all. Candidates may arrive
    * in `_metadata.file_path` URI form (the skipping layer's key), so
    * both sides compare through hadoop Path. */
  private def scanSet(st: State, candidates: Option[Seq[String]]): Seq[String] =
    candidates.fold(st.files) { c =>
      val named = c.map(new Path(_).toString).toSet
      st.files.filter(f => named(new Path(f).toString))
    }

  /** The discovery scan as a DataFrame (PlanSpec pins its shape: the
    * predicate pushes into the parquet scan and only the predicate's
    * columns + file metadata are read — discovery over a 100 TB table
    * is a narrow-column scan, not a table read). */
  private[graft] def touchedFilesPlan(spark: SparkSession, table: String,
      files: Seq[String], cond: Column,
      schemas: Map[String, StructType] = Map.empty): DataFrame =
    scanFiles(spark, table, files, schemas)
      .where(cond)
      .select(col("_metadata.file_path"))
      .distinct()

  /** Row-level DELETE as copy-on-write: rewrite ONLY the files that
    * contain matching rows (discovered by [[touchedFiles]] — pass
    * `candidates` from the skipping layer to prune discovery too),
    * dropping the matches; untouched files are carried by reference in
    * a `replace` manifest. The rewrite cost is O(touched data), not
    * O(table) — the right-to-be-forgotten primitive at 100 TB, where a
    * clustered layout (partition/z-order on the delete key) keeps the
    * touched set to a handful of files. Prior versions still see the
    * deleted rows until [[vacuum]] reclaims them — an auditable
    * retention window, or run vacuum immediately for hard deletion. */
  /** Scan exactly `files` with the state's deletion vectors applied —
    * what every copy-on-write rewrite must read: a plain file scan
    * would RESURRECT merge-on-read-deleted rows into the rewritten
    * files. No-op (plain scan) when the table has no DVs. */
  private def readFilesWithDvs(spark: SparkSession, table: String,
      st: State, files: Seq[String]): DataFrame =
    readState(spark, table, st.copy(files = files))

  def deleteWhere(spark: SparkSession, table: String, cond: Column,
      candidates: Option[Seq[String]] = None): Cow = {
    val st = stateAt(spark, table, versionOrLatest(spark, table))
    val touched = touchedFiles(spark, table, cond, candidates)
    if (touched.isEmpty) return Cow(None, 0, st.files.size)
    val kept = readFilesWithDvs(spark, table, st, touched)
      .where(!coalesce(cond, lit(false)))
    val v = commitAction(spark, table, kept, "replace", None,
      removed = touched, baseDvs = Some(st.dvs.toSet))
    Cow(Some(v), touched.size, st.files.size)
  }

  /** Range DELETE with a METADATA-ONLY fast path — the retention /
    * right-to-be-forgotten shape at 100 TB: `DELETE WHERE c BETWEEN lo
    * AND hi` on a layout clustered on `c` (time-partitioned ingest,
    * [[Layout.zorderBy]], `repartitionByRange`). A zone map over the
    * visible files classifies each file by its [min,max] envelope:
    *
    *   - fully inside [lo,hi] (and no NULLs): DROPPED from the manifest
    *     without reading a byte — deleting a day from a year of
    *     time-clustered data is a manifest write, like dropping a
    *     partition;
    *   - envelope intersects: rewritten copy-on-write (only files that
    *     actually contain a match, via [[touchedFiles]] over just those
    *     candidates);
    *   - envelope disjoint: untouched, carried by reference.
    *
    * On a table whose [[setStatsColumns]] cover `c`, classification
    * comes straight from the stats-in-log fold — ZERO scans to plan
    * the delete (files without recorded stats conservatively flow
    * through touched-file discovery). Otherwise pass a maintained `zm`
    * ([[Layout.zoneMapApply]]) to skip the zone-map build, or one
    * column-pruned scan builds it. The conflict check covers dropped
    * files too — a racing replace of one fails the commit rather than
    * resurrecting rows. */
  def deleteRange(spark: SparkSession, table: String, c: String,
      lo: Any, hi: Any, zm: Option[DataFrame] = None): Cow = {
    val base = versionOrLatest(spark, table)
    val st = stateAt(spark, table, base)
    val visible = st.files
    // classification source, best-first: (a) stats-in-log — the fold
    // already knows every stats'd file's envelope AND null count, so a
    // retention delete on a stats-indexed table plans with ZERO scans;
    // files without recorded stats classify conservatively as
    // intersecting (they flow through touchedFiles discovery — no
    // false drops, no false carries); (b) a caller-maintained zone
    // map; (c) one column-pruned scan to build one.
    val folded =
      if (zm.isEmpty && statsColumns(spark, table).contains(c))
        statsFold(spark, table, base)
      else Map.empty[String, Map[String, ColStats]]
    val cls: Seq[(String, Boolean, Boolean)] =
      if (folded.nonEmpty) {
        visible.map { f =>
          fileStatsOf(folded, f).flatMap(_.get(c)) match {
            case Some(cs) if !boundComparable(cs.typ, lo) ||
                !boundComparable(cs.typ, hi) =>
              (f, false, true) // mismatched bound types — conservative
            case Some(cs) if !cs.hasValues => (f, false, false) // all NULL
            case Some(cs) =>
              val full = cs.nulls == 0L &&
                cmpStats(cs.typ, cs.min, lo) >= 0 && cmpStats(cs.typ, cs.max, hi) <= 0
              val hit =
                cmpStats(cs.typ, cs.max, lo) >= 0 && cmpStats(cs.typ, cs.min, hi) <= 0
              (f, full, hit)
            case None => (f, false, true) // no stats — conservative
          }
        }
      } else {
        val zmap = zm.getOrElse(Layout.zoneMapFiles(spark, visible, Seq(c)))
        val loL = lit(lo); val hiL = lit(hi)
        // driver-side, manifest-scale: (file, fully-covered?, intersects?)
        // stat columns are NULL for all-NULL files — NULL classifies as
        // neither fully-covered nor intersecting (range predicates never
        // match NULL rows)
        def truthy(r: org.apache.spark.sql.Row, i: Int) =
          !r.isNullAt(i) && r.getBoolean(i)
        zmap.select(col("file"),
          (col(s"${c}_min") >= loL && col(s"${c}_max") <= hiL &&
            col(s"${c}_nulls") === 0L).as("full"),
          Layout.rangeEnvelope(c, loL, hiL).as("hit")).collect()
          .map(r => (r.getString(0), truthy(r, 1), truthy(r, 2))).toSeq
      }
    val dropped = cls.filter(_._2).map(_._1)
      .map(new Path(_).toString).toSeq.sorted
    val partial = cls.filter(r => !r._2 && r._3).map(_._1)
    val cond = col(c) >= lit(lo) && col(c) <= lit(hi)
    val touched =
      if (partial.isEmpty) Seq.empty
      else touchedFiles(spark, table, cond, candidates = Some(partial))
    if (dropped.isEmpty && touched.isEmpty)
      return Cow(None, 0, visible.size, 0)
    val kept =
      if (touched.isEmpty)
        readFiles(spark, table, Seq.empty, Map.empty) // schema-only empty
      else readFilesWithDvs(spark, table, st, touched)
        .where(!coalesce(cond, lit(false)))
    val v = commitAction(spark, table, kept, "replace", None,
      removed = dropped ++ touched, baseDvs = Some(st.dvs.toSet))
    Cow(Some(v), touched.size, visible.size, dropped.size)
  }

  /** Row-level UPDATE as copy-on-write: rewrite only the touched files,
    * applying `set` (column → new-value expression, evaluated against
    * the old row) to matching rows and carrying non-matching rows of
    * those files unchanged. Same cost shape and manifest mechanics as
    * [[deleteWhere]]. */
  def updateWhere(spark: SparkSession, table: String, cond: Column,
      set: Map[String, Column], candidates: Option[Seq[String]] = None): Cow = {
    val st = stateAt(spark, table, versionOrLatest(spark, table))
    val touched = touchedFiles(spark, table, cond, candidates)
    if (touched.isEmpty) return Cow(None, 0, st.files.size)
    // stage every new value against the OLD row first, then swap — so
    // one set-expression never observes another's result regardless of
    // Map iteration order
    val sets = set.toSeq
    val staged = sets.zipWithIndex.foldLeft(readFilesWithDvs(spark, table, st, touched)) {
      case (d, ((c, e), i)) =>
        d.withColumn(s"__set_$i", when(cond, e).otherwise(col(c)))
    }
    val rewritten = sets.zipWithIndex.foldLeft(staged) {
      case (d, ((c, _), i)) => d.withColumn(c, col(s"__set_$i"))
    }.drop(sets.indices.map(i => s"__set_$i"): _*)
    val v = commitAction(spark, table, rewritten, "replace", None,
      removed = touched, baseDvs = Some(st.dvs.toSet))
    Cow(Some(v), touched.size, st.files.size)
  }

  /** MERGE (upsert) as copy-on-write: source rows REPLACE target rows
    * with equal `keyCols` (null-safe `<=>`, like [[MaterializedAgg]]);
    * source rows with no match are inserted. Only files containing a
    * matched key are rewritten — the new commit holds those files'
    * unmatched rows plus ALL source rows, everything else is carried by
    * reference. Cost is O(touched data + source), never O(table):
    * the incremental-upsert path for slowly-arriving corrections on a
    * 100 TB table. `validate` (default true, skippable like PPR's seed
    * check) rejects a source with duplicate keys — the Delta MERGE
    * multiple-match error, caught before it silently double-inserts. */
  /** `candidates` (optional) bounds the matched-key DISCOVERY scan to
    * a pre-pruned file subset — pass `Layout.bloomIndexFiles` /
    * `zoneMapFiles` survivors for the batch's keys so the per-batch
    * scan is O(candidate files), not O(table). The set MUST be a
    * superset of the files holding a matched key (a skipping index's
    * no-false-negative guarantee); a false omission would leave the
    * old row alive beside the inserted one. */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], validate: Boolean = true,
      batchIdOpt: Option[Long] = None,
      candidates: Option[Seq[String]] = None): Cow = {
    require(keyCols.nonEmpty, "mergeInto: at least one key column")
    val base = versionOrLatest(spark, table)
    val snap = read(spark, table, Some(base))
    require(source.columns.sorted.sameElements(snap.columns.sorted),
      s"mergeInto: source columns ${source.columns.mkString(",")} must match " +
        s"table columns ${snap.columns.mkString(",")}")
    val st = stateAt(spark, table, base)
    val visible = st.files
    // touched = files holding a row whose key appears in source; the
    // key set is COLLECTED once (broadcast-sized by contract) so
    // discovery, the anti-join, and the conflict guard all probe the
    // same frozen keys even against a nondeterministic source plan —
    // and the duplicate-key validation rides the same pass
    val srcKeys = frozenSourceKeys(spark, source, keyCols, validate, "mergeInto")
    val keyEq = keyCols.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val scan = scanSet(st, candidates)
    val touched =
      if (scan.isEmpty) Seq.empty[String]
      else scanFiles(spark, table, scan, st.schemas)
        .select(col("_metadata.file_path").as("__file") +: keyCols.map(col): _*)
        .as("t")
        .join(srcKeys.as("s"), keyEq, "left_semi")
        .select(col("__file")).distinct().collect()
        .map(r => normPath(r.getString(0))).toSeq.sorted
    val ordered = snap.columns.toSeq
    val insertOnly = touched.isEmpty
    val newRows =
      if (insertOnly) source.select(ordered.map(col): _*)
      else {
        val unmatched = readFilesWithDvs(spark, table, st, touched).as("t")
          .join(srcKeys.as("s"), keyEq, "left_anti")
          .select(ordered.map(c => col(s"t.$c")): _*)
        unmatched.unionByName(source.select(ordered.map(col): _*))
      }
    val v = commitAction(spark, table, newRows,
      if (insertOnly) "append" else "replace", batchIdOpt, removed = touched,
      baseDvs = if (insertOnly) None else Some(st.dvs.toSet),
      mergeGuard = Some(MergeGuard(base, keyCols, srcKeys)))
    Cow(Some(v), touched.size, visible.size)
  }

  /** Zero-copy ROLLBACK: commit a new overwrite manifest referencing
    * `version`'s file set — the table's latest state becomes the old
    * snapshot WITHOUT rewriting a byte (Delta RESTORE). History is
    * preserved: the bad commits stay time-travelable between the
    * restored-from version and the restore commit, until vacuum.
    * Returns the new version. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val st = stateAt(spark, table, version) // loud on unknown/vacuumed
    // the fold already holds the restored files' stats and schemas, as
    // for a shallow clone; only files the log lacks them for open a footer
    commitManifest(spark, table, st.files, "overwrite", None,
      dvs = st.dvs, restoredFrom = Some(version), dvRefs = st.dvRefs,
      logStats = statsFold(spark, table, version), logSchemas = st.schemas)
  }

  /** Idempotent streaming MERGE — the `foreachBatch` + upsert pattern
    * that lands a CDC stream in a snapshot table exactly-once: like
    * [[commitBatch]], a replayed micro-batch whose `batchId` already
    * committed is a no-op; otherwise the batch upserts via
    * [[mergeInto]] (matched keys replaced, new keys inserted, touched
    * files only). The batchId is recorded on whichever manifest the
    * merge produces (`replace` or `append`).
    * {{{ cdc.writeStream.foreachBatch { (df, id) =>
    *       Snapshots.mergeBatch(spark, table, df, Seq("key"), id); () } }}} */
  def mergeBatch(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], batchId: Long): Option[Cow] = {
    if (batchCommitted(spark, table, batchId)) None
    else Some(mergeInto(spark, table, source, keyCols, batchIdOpt = Some(batchId)))
  }

  // ------------------------------------------------------------------
  // Merge-on-read: deletion vectors (Delta DVs / Iceberg v2 position
  // deletes). Copy-on-write pays a file REWRITE per touched file —
  // the right trade for clustered DML, and exactly the wrong one for
  // SCATTERED deletes/upserts: the round's CDC bench measured a
  // uniform key feed rewriting every file every batch (16/16 per
  // trigger). A DV commit instead writes a deletion-sized sidecar of
  // `(file_path, row_index)` positions and marks the rows dead in the
  // manifest — write cost O(deleted rows), zero data files rewritten.
  // Readers subtract DVs at scan time (dirty files anti-join the
  // sidecar, clean files scan plain), so reads pay a deletion-sized
  // join until [[purgeDeletes]] folds the DVs back into clean files.
  // Write-optimized MOR and read-optimized COW compose on one table:
  // land scattered CDC with [[mergeBatchMor]], purge on a coarse
  // cadence.
  // ------------------------------------------------------------------

  private def dvRoot(table: String) = new Path(table, "dv")

  /** A written DV sidecar: its part files and their [[DvRef]]
    * summaries (keyed by [[statsKey]]), recorded in the `dv` manifest. */
  private final case class DvWrite(parts: Seq[String], refs: Map[String, Seq[DvRef]]) {
    def rows: Long = refs.valuesIterator.flatten.map(_.rows).sum
    def referenced: Seq[String] = refs.values.flatten.map(r => normPath(r.file)).toSeq.distinct.sorted
  }

  /** Write a `(file_path, row_index)` frame as a DV sidecar. One
    * read-back aggregation yields everything the commit needs — the
    * per-part, per-data-file row counts and max row indexes — or no
    * parts, with the dir removed, when the frame was empty. */
  private def writeDv(spark: SparkSession, table: String,
      dvDf: DataFrame): DvWrite = {
    val f = fs(spark, table)
    val dir = new Path(dvRoot(table), s"d-${UUID.randomUUID().toString.take(8)}")
    dvDf.select(col("file_path").cast("string"), col("row_index").cast("long"))
      .write.parquet(dir.toString)
    val parts = f.listStatus(dir).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .map(_.toString).sorted.toSeq
    val summarized = if (parts.isEmpty) Map.empty[String, Seq[DvRef]]
      else summarizeDvs(spark, parts)
    // a part the write left empty has no rows to summarize
    val written = DvWrite(parts, parts.map(p =>
      statsKey(p) -> summarized.getOrElse(statsKey(p), Nil)).toMap)
    if (written.rows == 0L) { f.delete(dir, true); DvWrite(Seq.empty, Map.empty) }
    else written
  }

  /** Row-level DELETE as MERGE-ON-READ: write a deletion-vector
    * sidecar of the matching rows' `(file, row_index)` positions and
    * commit a `dv` manifest — NO data file is rewritten, so the write
    * cost is O(matching rows) regardless of how scattered they are
    * (the shape where [[deleteWhere]]'s copy-on-write degenerates to
    * rewriting the table). Reads pay the DV anti-join on dirty files
    * until [[purgeDeletes]]. Rows already DV-deleted are excluded, so
    * a repeated delete is a no-op (version None). Conflicts: DV
    * commits commute with each other and with appends; a racing
    * REWRITE of a referenced file fails the commit loudly. */
  def deleteWhereMor(spark: SparkSession, table: String, cond: Column,
      candidates: Option[Seq[String]] = None): Cow = {
    val st = stateAt(spark, table, versionOrLatest(spark, table))
    // ONE column-pruned pass finds the matching positions directly —
    // the position projection IS the discovery (unlike COW, which
    // needs the touched FILE set before it can plan the rewrite);
    // `candidates` bounds it to the skipping layer's survivors
    val scan = scanSet(st, candidates)
    if (scan.isEmpty) return Cow(None, 0, st.files.size)
    val matches = scanFiles(spark, table, scan, st.schemas)
      .where(cond)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
    val fresh =
      if (st.dvs.isEmpty) matches
      else matches.join(readDvs(spark, st.dvs),
        Seq("file_path", "row_index"), "left_anti")
    val dvw = writeDv(spark, table, fresh)
    if (dvw.parts.isEmpty) return Cow(None, 0, st.files.size)
    val v = commitManifest(spark, table, Seq.empty, "dv", None,
      dvs = dvw.parts, requireVisible = dvw.referenced, dvRefs = dvw.refs)
    Cow(Some(v), 0, st.files.size, dvRows = dvw.rows)
  }

  /** MERGE (upsert) as MERGE-ON-READ: matched target rows are marked
    * dead in a deletion vector and ALL source rows append as new files
    * — one `dv` manifest, ZERO files rewritten. This is the scattered-
    * key CDC landing shape: [[mergeInto]]'s copy-on-write footprint is
    * O(files containing a matched key) — every file, for a uniform key
    * feed — while MOR's is O(batch). The read-side debt (DV anti-join
    * over the dirty files) is repaid on a coarse cadence by
    * [[purgeDeletes]] or [[compactLatest]]. Same source contract as
    * [[mergeInto]] (schema equality, duplicate-key validation), and the
    * same conflict contract: a concurrent commit that inserted a key
    * this merge also upserts fails with
    * ConcurrentModificationException instead of leaving two live rows
    * per key — re-run the merge against the new state (the
    * `mergeGuard` check in the commit loop; DV-vs-DV deletes still
    * commute). */
  /** `candidates` bounds the position-discovery scan exactly as in
    * [[mergeInto]] — the per-batch O(table) narrow scan becomes
    * O(candidate files) with a maintained skipping index over the
    * merge key (superset contract applies). */
  def mergeIntoMor(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], validate: Boolean = true,
      batchIdOpt: Option[Long] = None,
      candidates: Option[Seq[String]] = None): Cow = {
    require(keyCols.nonEmpty, "mergeIntoMor: at least one key column")
    val base = versionOrLatest(spark, table)
    val snap = read(spark, table, Some(base))
    require(source.columns.sorted.sameElements(snap.columns.sorted),
      s"mergeIntoMor: source columns ${source.columns.mkString(",")} must match " +
        s"table columns ${snap.columns.mkString(",")}")
    val st = stateAt(spark, table, base)
    // one pass over the source batch: frozen keys + duplicate-key check
    val srcKeys = frozenSourceKeys(spark, source, keyCols, validate, "mergeIntoMor")
    val keyEq = keyCols.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val scan = scanSet(st, candidates)
    // positions of live matched target rows — the DV delta
    val matches =
      if (scan.isEmpty)
        spark.emptyDataFrame
          .select(lit("").as("file_path"), lit(0L).as("row_index")).limit(0)
      else scanFiles(spark, table, scan, st.schemas)
        .select(col("_metadata.file_path").as("file_path") +:
          col("_metadata.row_index").as("row_index") +: keyCols.map(col): _*)
        .as("t")
        .join(srcKeys.as("s"), keyEq, "left_semi")
        .select(col("file_path"), col("row_index"))
    val fresh =
      if (st.dvs.isEmpty) matches
      else matches.join(readDvs(spark, st.dvs),
        Seq("file_path", "row_index"), "left_anti")
    val dvw = writeDv(spark, table, fresh)
    val ordered = snap.columns.toSeq
    val files = writeData(spark, table, source.select(ordered.map(col): _*))
    validateWrittenOrAbort(spark, table, files)
    val v = commitManifest(spark, table, files, "dv", batchIdOpt,
      dvs = dvw.parts, requireVisible = dvw.referenced, dvRefs = dvw.refs,
      mergeGuard = Some(MergeGuard(base, keyCols, srcKeys)))
    Cow(Some(v), 0, st.files.size, dvRows = dvw.rows)
  }

  /** Idempotent streaming MOR merge — [[mergeBatch]]'s exactly-once
    * `foreachBatch` contract over [[mergeIntoMor]]: the write-optimized
    * CDC landing for scattered key feeds (bounded write amplification
    * at any key distribution; purge on a coarse cadence). */
  def mergeBatchMor(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], batchId: Long): Option[Cow] = {
    if (batchCommitted(spark, table, batchId)) None
    else Some(mergeIntoMor(spark, table, source, keyCols, batchIdOpt = Some(batchId)))
  }

  /** Merge-on-read DEBT at the latest version: (dirty data files,
    * dead rows, DV sidecar files) — the purge-cadence signal. A table
    * serving latency-sensitive reads purges when dirtyFiles or dvRows
    * crosses its budget; zero debt means reads are join-free. One
    * sidecar-scale scan. */
  final case class DvStats(dirtyFiles: Int, dvRows: Long, dvFiles: Int)

  def dvStats(spark: SparkSession, table: String): DvStats = {
    val st = stateAt(spark, table, versionOrLatest(spark, table))
    if (st.dvs.isEmpty) return DvStats(0, 0L, 0)
    val visible = st.files.map(new Path(_).toString).toSet
    // stale DV rows (their file already rewritten away) are not debt
    val live = dvRefsOf(spark, st.dvs, st.dvRefs).filter(r => visible.contains(normPath(r.file)))
    DvStats(live.map(_.file).distinct.size, live.map(_.rows).sum, st.dvs.size)
  }

  /** Fold the deletion vectors back into clean data files — Delta's
    * `REORG TABLE ... APPLY (PURGE)`: rewrite ONLY the dirty files
    * (those with DV rows) copy-on-write with their DVs applied, and
    * drop every DV from the manifest. Read plans are join-free again;
    * write cost is O(dirty data). Run on a coarse cadence against the
    * per-batch MOR landings. Conflicts: a racing MOR delete fails the
    * commit (its DV would be silently cleared); rerun after it. */
  def purgeDeletes(spark: SparkSession, table: String): Cow = {
    val st = stateAt(spark, table, versionOrLatest(spark, table))
    if (st.dvs.isEmpty) return Cow(None, 0, st.files.size)
    val dvFiles = dvRefsOf(spark, st.dvs, st.dvRefs).map(r => normPath(r.file)).toSet
    val dirty = st.files.filter(f => dvFiles.contains(new Path(f).toString)).sorted
    if (dirty.isEmpty) {
      // stale DVs only (every referenced file already rewritten away):
      // drop them metadata-only
      val v = commitManifest(spark, table, Seq.empty, "replace", None,
        removedDvs = st.dvs, baseDvs = Some(st.dvs.toSet), neutral = true)
      return Cow(Some(v), 0, st.files.size)
    }
    val kept = readFilesWithDvs(spark, table, st, dirty)
    val v = commitAction(spark, table, kept, "replace", None,
      removed = dirty, baseDvs = Some(st.dvs.toSet), removedDvs = st.dvs,
      neutral = true)
    Cow(Some(v), dirty.size, st.files.size)
  }

  /** Zero-copy SHALLOW clone: `dst` is born with one self-contained
    * overwrite manifest referencing `src`'s files at `version` (default
    * latest) — no data moves, so branching a 100 TB table is a
    * manifest-write. The clone is immediately writable: appends land
    * under `dst/data`, and copy-on-write DML rewrites touched files
    * INTO the clone while untouched files stay shared — branch
    * semantics, the parent never observes the branch's DML (and
    * [[vacuum]] on the clone only sweeps `dst/data`, so shared parent
    * files are structurally safe from it). The one cross-table hazard
    * is the parent's OWN vacuum: it cannot see the clone's references,
    * so vacuuming `src` past the cloned version breaks the clone —
    * same contract as Delta shallow clones; retain the cloned version
    * on the parent (or re-materialize the clone with an overwrite
    * commit) before reclaiming. */
  def cloneShallow(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None): Long = {
    val v = versionOrLatest(spark, src, version)
    val st = stateAt(spark, src, v)
    require(latestVersion(spark, dst).isEmpty,
      s"cloneShallow: $dst already has a snapshot log")
    val f = fs(spark, dst)
    f.mkdirs(logDir(dst))
    val json = mapper.createObjectNode()
    json.put("version", 0L)
    json.put("action", "overwrite")
    json.put("ts", System.currentTimeMillis())
    val arr = json.putArray("files")
    st.files.foreach(arr.add)
    if (st.dvs.nonEmpty) {
      val d = json.putArray("dvs")
      st.dvs.foreach(d.add)
    }
    putSchemas(json, st.files, st.schemas)
    putDvRefs(json, st.dvs, st.dvRefs)
    // the clone's manifest is self-contained — carry the parent's
    // folded stats so pruning keeps working without re-opening footers
    statsNodeFromFold(statsFold(spark, src, v), st.files)
      .foreach(sn => json.set[com.fasterxml.jackson.databind.JsonNode]("stats", sn))
    require(createExclusive(f, versionFile(dst, 0L), mapper.writeValueAsBytes(json)),
      s"cloneShallow: a racing writer created $dst's log first")
    advanceLatestPtr(f, dst, 0L)
    // the parent's stats.columns keep applying to commits on the branch
    properties(spark, src).get("stats.columns")
      .foreach(v => setProperty(spark, dst, "stats.columns", v))
    0L
  }

  /** Register a version (default latest) as a temp view — the SQL
    * surface: `spark.sql("SELECT ... FROM clean_docs")` over a pinned
    * consistent snapshot. Re-register to move the view forward. */
  def createView(spark: SparkSession, table: String, name: String,
      version: Option[Long] = None): Unit =
    read(spark, table, version).createOrReplaceTempView(name)

  /** Continuous consumption of an APPEND-ONLY snapshot table as a
    * Structured Streaming source: Spark's file-stream source tracks
    * per-file progress in its own checkpoint, and every commit only
    * ADDS immutable files under `data/&#42;/`, so new commits flow
    * through exactly-once with zero extra machinery — the idiomatic
    * composition, not a custom Source. Constraints follow from the
    * mechanism and are enforced/documented: the table must stay
    * append-only (an overwrite/compaction/copy-on-write replace would
    * re-deliver rewritten rows, and a merge-on-read `dv` commit's
    * deletes would be silently missed — run those on a DIFFERENT
    * table fed from this stream; ENFORCE the discipline with
    * `setProperty(table, "streaming", "append_only")`, which makes the
    * commit gate refuse replace/overwrite loudly for the stream's
    * lifetime), and
    * `schema` is required because streaming sources cannot infer. */
  def streamChanges(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      // partitioned commit dirs nest files under p__col=value — list
      // leaves recursively and DON'T infer partition columns from the
      // dirs (the data files are self-contained: the partition column
      // is kept in the file, so the provided schema is complete)
      .option("recursiveFileLookup", "true")
      .parquet(table + "/data/*")

  /** STREAMING half of the change data feed: deletion-vector
    * positions as a Structured Streaming source. Under MOR discipline
    * both `data/` and `dv/` only ever gain immutable files, so two
    * file-stream sources — [[streamChanges]] for inserts, this for
    * deletes — deliver the full CDF exactly-once from Spark's own
    * file-tracking checkpoint, with zero custom Source code. Each row
    * is a POSITION (`file_path`, `row_index`); resolve content inside
    * the consumer's `foreachBatch` with [[resolveDeletedRows]] (the
    * positions are batch-scale there). Constraint, same as
    * [[streamChanges]]: the table must stay append+MOR only while
    * streamed — a COW replace / compaction / purge rewrites data files
    * (re-delivered inserts) without re-delivering their deletes; run
    * housekeeping on a downstream table instead, and ENFORCE the
    * discipline with `setProperty(table, "streaming", "append_only")`
    * (the commit gate then refuses replace/overwrite loudly).
    * {{{
    * val dels = Snapshots.streamDeletePositions(spark, table)
    * dels.writeStream.foreachBatch { (pos, id) =>
    *   val rows = Snapshots.resolveDeletedRows(spark, table, pos)
    *   ... // retract from the downstream table
    * }
    * }}} */
  def streamDeletePositions(spark: SparkSession, table: String): DataFrame = {
    // the dv dir may not exist before the first MOR commit — the file
    // source needs a listable root
    fs(spark, table).mkdirs(dvRoot(table))
    spark.readStream
      .schema("file_path STRING, row_index LONG")
      .option("pathGlobFilter", "*.parquet")
      .parquet(table + "/dv/*")
  }

  /** Resolve a (batch-scale) frame of DV positions to FULL ROW
    * content: one scan over only the referenced (immutable) files,
    * semi-joined on position — [[changeFeed]]'s delete-content
    * mechanic, exposed for `foreachBatch` consumers of
    * [[streamDeletePositions]]. */
  def resolveDeletedRows(spark: SparkSession, table: String,
      positions: DataFrame): DataFrame = {
    val files = positions.select(col("file_path")).distinct().collect()
      .map(r => normPath(r.getString(0))).toSeq.sorted
    if (files.isEmpty) return readFiles(spark, table, Seq.empty, Map.empty)
    val known = latestVersion(spark, table).map(stateAt(spark, table, _).schemas)
    positionsSemi(spark, scanFiles(spark, table, files, known.getOrElse(Map.empty)), positions)
  }

  /** The file-set DELTA of `version`'s commit vs the version before it:
    * (added, removed), both manifest-scale. This is what keeps a
    * skipping index in lockstep with the table WITHOUT rebuilding it —
    * feed the pair to [[Layout.zoneMapApply]] / [[Layout.bloomIndexApply]]
    * after any commit (append: added only; copy-on-write replace: both;
    * restore: whatever actually changed by reference). Computed as a
    * set diff of the two visible file lists, so it is exact for every
    * action including overwrites. */
  def changedFiles(spark: SparkSession, table: String,
      version: Long): (Seq[String], Seq[String]) = {
    val vs = versions(spark, table)
    require(vs.contains(version), s"changedFiles: unknown version $version")
    val now = filesAt(spark, table, version).toSet
    val before = vs.filter(_ < version).lastOption
      .map(filesAt(spark, table, _).toSet).getOrElse(Set.empty[String])
    ((now -- before).toSeq.sorted, (before -- now).toSeq.sorted)
  }

  /** Commit history as a DataFrame (version, action, n_files,
    * n_removed, n_dvs, ts) — `n_removed` is the copy-on-write rewrite
    * footprint of a `replace` commit; `n_dvs` counts deletion-vector
    * sidecar files a `dv` commit added (merge-on-read: rewrites 0). */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(spark, table).map(readManifest(spark, table, _))
      .map(m => (m.version, m.action, m.files.size, m.removed.size,
        m.dvs.size, m.ts))
      .toDF("version", "action", "n_files", "n_removed", "n_dvs", "ts")
  }

  /** Age-based retention: [[vacuum]] keeping every version committed
    * at-or-after `cutoffMillis` (manifest clock; always at least the
    * latest) — the `RETAIN n DAYS` spelling of the same contract.
    * Commit timestamps are monotone under the single-log design, so
    * the cutoff maps to a contiguous retained suffix. */
  def vacuumOlderThan(spark: SparkSession, table: String,
      cutoffMillis: Long): Long = {
    val keep = versions(spark, table)
      .count(readManifest(spark, table, _).ts >= cutoffMillis)
    vacuum(spark, table, math.max(1, keep))
  }

  /** Delete data files unreachable from the newest `retainVersions`
    * versions, and fold the log down to them — the storage-reclaim half
    * of the snapshot contract. The horizon version's manifest is first
    * REWRITTEN as a self-contained `overwrite` (checkpoint) carrying
    * its full reconstructed file set, so retained append-versions never
    * dangle on deleted manifests — the exact reason Delta checkpoints
    * before log truncation. Time travel past the horizon then fails
    * loudly in [[filesAt]] (manifest gone), never silently on missing
    * data. The horizon rewrite is ATOMIC (staged + renamed into place)
    * and preserves the original commit's `batchId`/`restoredFrom`, so a
    * racing READER never sees a torn manifest and a crash-replayed
    * streaming batch stays a no-op across a vacuum. Still a maintenance
    * op to serialize against WRITERS: the unreachable-file sweep cannot
    * distinguish an in-flight commit's durable-but-unmanifested files
    * from crash orphans. READERS are protected only by the retention
    * window: a query planned against version v scans v's files long
    * after later commits land, so `retainVersions` (or the
    * [[vacuumOlderThan]] cutoff) must exceed the longest in-flight
    * read/DML duration in commit-count (resp. wall-clock) terms — the
    * same contract as Delta's vacuum retention; too-tight retention
    * surfaces as FileNotFoundException in the racing scan (loud, never
    * wrong results). Returns the number of data files deleted. */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int = 1): Long = {
    require(retainVersions >= 1, "vacuum: must retain at least the latest version")
    val f = fs(spark, table)
    val vs = versions(spark, table)
    if (vs.size <= retainVersions) return 0L
    val keep = vs.takeRight(retainVersions)
    val keptStates = keep.map(stateAt(spark, table, _))
    val reachable = (keptStates.flatMap(_.files) ++ keptStates.flatMap(_.dvs)).toSet
    // checkpoint the horizon: its manifest becomes self-contained so the
    // fold never needs the manifests about to be dropped. An `overwrite`
    // horizon is ALREADY self-contained — skipped untouched, trivially
    // preserving every field (batchId, neutral, restoredFrom). A folded
    // horizon (append/replace/dv) is rewritten as an overwrite carrying
    // the reconstructed state; its batchId and restoredFrom MUST survive
    // the rewrite — with retainVersions=1 the horizon is the latest
    // commit, and dropping the batchId would let a crash-replayed
    // streaming batch silently double-commit (commitBatch/mergeBatch's
    // exactly-once contract keys on it). `neutral` is deliberately NOT
    // carried onto a folded rewrite: the fold is a genuine state reset
    // (it absorbs every dropped commit), and a change feed crossing it
    // must refuse loudly, not read through it as empty housekeeping.
    val horizon = keep.head
    val horizonState = keptStates.head
    val horizonM = readManifest(spark, table, horizon)
    if (horizonM.action != "overwrite") {
      val json = mapper.createObjectNode()
      json.put("version", horizon)
      json.put("action", "overwrite")
      json.put("ts", horizonM.ts)
      horizonM.batchId.foreach(json.put("batchId", _))
      horizonM.restoredFrom.foreach(json.put("restoredFrom", _))
      val arr = json.putArray("files")
      horizonState.files.foreach(arr.add)
      if (horizonState.dvs.nonEmpty) {
        val d = json.putArray("dvs")
        horizonState.dvs.foreach(d.add)
      }
      putSchemas(json, horizonState.files, horizonState.schemas)
      putDvRefs(json, horizonState.dvs, horizonState.dvRefs)
      // the fold would lose the dropped manifests' stats — embed them,
      // keeping range pruning alive past the vacuum horizon
      statsNodeFromFold(statsFold(spark, table, horizon), horizonState.files)
        .foreach(sn => json.set[com.fasterxml.jackson.databind.JsonNode]("stats", sn))
      // atomic replace: a racing reader must never observe a torn horizon
      replaceAtomic(f, versionFile(table, horizon), mapper.writeValueAsBytes(json))
    }
    // all data + DV files on disk (a pure shallow clone has neither yet)
    def sweepDirs(root: Path): Array[Path] =
      if (!f.exists(root)) Array.empty[Path]
      else f.listStatus(root).filter(_.isDirectory).map(_.getPath)
    val commitDirs = sweepDirs(new Path(table, "data")) ++ sweepDirs(dvRoot(table))
    var deleted = 0L
    // recurse: a partitioned commit dir nests its files under
    // p__col=value directories. Returns true when no LIVE file
    // remains below `d` (metadata markers don't keep a dir alive).
    def sweep(d: Path): Boolean = {
      var allGone = true
      f.listStatus(d).foreach { s =>
        val p = s.getPath
        if (s.isDirectory) {
          if (sweep(p)) f.delete(p, true) else allGone = false
        } else if (!p.getName.startsWith("_") && !p.getName.startsWith(".")) {
          if (!reachable.contains(p.toString)) {
            if (f.delete(p, false)) deleted += 1
          } else allGone = false
        }
      }
      allGone
    }
    commitDirs.foreach { d => if (sweep(d)) f.delete(d, true) }
    vs.dropRight(retainVersions).foreach(v => f.delete(versionFile(table, v), false))
    // checkpoints below the horizon may reference reclaimed files — drop them
    checkpoints(spark, table).filter(_ < horizon)
      .foreach(v => f.delete(checkpointFile(table, v), false))
    // a crash between createExclusive/replaceAtomic's stage and its
    // link/rename strands a .tmp-* file in the log dir forever — vacuum
    // is the maintenance op serialized against writers, so sweeping
    // them here is race-free
    f.listStatus(logDir(table)).map(_.getPath)
      .filter(_.getName.startsWith(".tmp-"))
      .foreach(p => f.delete(p, false))
    // the horizon rewrite + manifest truncation are the one mutation of
    // existing versions — cached manifests/states/stats for this table
    // must not outlive them (a stale hit on a dropped version would
    // silently plan a scan over reclaimed files instead of failing loud)
    invalidateCaches(table)
    deleted
  }
}

package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, GraftLocalBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, count, lit, max, struct, to_json}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** HTTP serving layer over [[FeatureStore]] — the reference's FastAPI
  * app (`back_end/app/main.py`, `app/routes/feature.py`) re-expressed
  * on the JDK's built-in `com.sun.net.httpserver` (public JDK surface,
  * zero added dependencies). One route per reference endpoint:
  *
  *   - `GET  /health`                        — liveness (main.py root)
  *   - `GET  /features?limit=N`              — bulk scan, capped
  *   - `GET  /features/by-ccnum/{cc}`        — point lookup
  *   - `GET  /features/by-date?start=&end=`  — inclusive day range
  *   - `GET  /transactions/{cc}/recent?k=N`  — top-k recent
  *     (feature.py:164 — the reference's `/redis/transactions/{cc}`)
  *   - `POST /features`                      — batch ingest of JSON
  *     rows (JSON-lines or a JSON array body)
  *
  * Responses are JSON arrays of row objects; only the capped result
  * collects — the server is the EDGE of the system, and the cap
  * (`maxRows` rows per response, at most four responses in flight on
  * the handler threads) keeps it driver-scale by contract. By-card and
  * recent-k answers come from the parquet store's driver-resident card
  * index as local relations, and their rows are written by Spark's own
  * JSON writer on the handler thread: no query is planned, and no SQL
  * execution or Spark job starts (an over-budget or JDBC store scans
  * instead). Bulk and by-date queries serialize on executors with
  * their filters pushed down to the scan underneath; local `/similar`
  * answers go through the same JSON writer as the index's rows. Spark
  * is the query engine; HTTP is a thin,
  * stateless adapter — which is exactly the split the reference's
  * FastAPI+Spark layout has.
  */
class HttpApi(spark: SparkSession, store: FeatureStore,
    host: String = "127.0.0.1", port: Int = 0, maxRows: Int = 100000,
    ann: Option[HttpApi.AnnBackend] = None) {

  // TCP_NODELAY on the JDK server's sockets: sendResponseHeaders and
  // the body write land in separate small segments, and Nagle +
  // delayed-ACK puts a ~40 ms stall between them on EVERY response
  // (a 44 ms p50 floor was measured on /health). CAVEAT: the
  // property is read ONCE when the JDK server classes initialize — if
  // the embedding JVM created any com.sun.net.httpserver server before
  // the first HttpApi, this line is a silent no-op; pass
  // -Dsun.net.httpserver.nodelay=true at launch to make it
  // unconditional (and note it applies process-wide either way).
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)

  /** The actual port after binding (pass port=0 for ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown() // HttpServer.stop does NOT close the executor it was given
  }

  // --- plumbing ---------------------------------------------------

  /** Send the first `limit` rows of a DataFrame as a JSON array of row
    * objects, each as `Dataset.toJSON` writes it.
    *
    * A DataFrame whose analyzed plan is a local relation (the card
    * index's by-card and recent-k answers) is already on the driver:
    * its first `limit` rows are written straight through Spark's JSON
    * writer ([[GraftLocalBridge.jsonArray]]), so no projection is
    * analyzed or planned and no SQL execution starts.
    *
    * Any other DataFrame is serialized on the executors by a
    * `to_json(struct(*))` projection under the limit: the optimizer
    * pushes the projection below the limit, so `collect` runs a
    * limit-rooted plan (`CollectLimit`, or `TakeOrderedAndProject` for
    * a sorted top-k) with no exchange. `Dataset.toJSON` would sit above
    * the limit as an opaque map and force a single-partition shuffle
    * under it. Every route caps its answer at `maxRows`, so the driver
    * holds at most `maxRows` serialized rows per response, and at most
    * four responses at once (one per handler thread). */
  private def respondJson(ex: HttpExchange, status: Int, df: DataFrame,
      limit: Int = Int.MaxValue): Unit = GraftLocalBridge.localRows(df) match {
    case Some((schema, local)) =>
      respond(ex, status, GraftLocalBridge.jsonArray(spark, schema, local.iterator.take(limit)))
    case None =>
      val capped = if (limit < Int.MaxValue) df.limit(limit) else df
      // collect BEFORE the headers, so a failing query still maps to a
      // clean 400/500 instead of a truncated body
      val rows = capped.select(to_json(struct(col("*")))).collect()
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, 0L)
      val os = new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
      try {
        os.write('[')
        var i = 0
        while (i < rows.length) {
          if (i > 0) os.write(',')
          os.write(rows(i).getString(0).getBytes(StandardCharsets.UTF_8))
          i += 1
        }
        os.write(']')
      } finally os.close()
  }

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map { q =>
      q.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, "UTF-8") ->
              java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def handler(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try f(ex)
        catch {
          case e: IllegalArgumentException =>
            respond(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
          case e: Exception =>
            respond(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
        } finally ex.close()
    }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x") // JSON bans raw control chars
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def cap(n: Int): Int = math.min(math.max(n, 0), maxRows)

  // --- routes -----------------------------------------------------

  server.createContext("/health", handler { ex =>
    respond(ex, 200, """{"status":"ok"}""")
  })

  // /features dispatches on its sub-path: exact GET/POST, by-ccnum/{cc},
  // by-date. createContext matches by longest prefix, so one context
  // owns the family (the JDK server has no path templates).
  server.createContext("/features", handler { ex =>
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod.toUpperCase
    (method, path) match {
      case ("GET", "/features") =>
        val limit = queryParams(ex).get("limit").map(parseInt("limit"))
          .getOrElse(maxRows)
        respondJson(ex, 200, store.bulk(cap(limit)))
      case ("POST", "/features") =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val n = ingestJson(body)
        respond(ex, 201, s"""{"ingested":$n}""")
      case ("GET", p) if p.startsWith("/features/by-ccnum/")
          && !p.stripPrefix("/features/by-ccnum/").contains('/') =>
        val cc = parseLong("cc_num")(p.stripPrefix("/features/by-ccnum/"))
        respondJson(ex, 200, store.byCcNum(cc), maxRows)
      case ("GET", "/features/by-date") =>
        val ps = queryParams(ex)
        val start = ps.getOrElse("start",
          throw new IllegalArgumentException("missing query param: start"))
        val end = ps.getOrElse("end",
          throw new IllegalArgumentException("missing query param: end"))
        require(start.matches("\\d{4}-\\d{2}-\\d{2}") && end.matches("\\d{4}-\\d{2}-\\d{2}"),
          "start/end must be YYYY-MM-DD")
        respondJson(ex, 200, store.byDateRange(start, end).limit(maxRows))
      case _ =>
        respond(ex, 404, """{"error":"not found"}""")
    }
  })

  // ANN similarity serving over a persisted index (absent backend →
  // 404, same as an unknown route: the endpoints only exist when an
  // index is mounted):
  //   - GET  /similar/{vec_id}?k=N — neighbors of a STORED vector
  //   - POST /similar              — neighbors of a RAW query vector
  //     (`{"vector":[...], "k":N}`) — the production serving shape,
  //     where query embeddings arrive from users, not the corpus
  // Both lookups are index-scale: the search touches nProbe cells of
  // the code table and only k rows collect; POST skips the corpus
  // entirely (no point lookup — the vector IS the request).
  server.createContext("/similar", handler { ex =>
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod.toUpperCase
    (ann, method, path) match {
      case (Some(backend), "GET", p) if p.startsWith("/similar/")
          && !p.stripPrefix("/similar/").contains('/') =>
        val id = parseLong("vec_id")(p.stripPrefix("/similar/"))
        val k = queryParams(ex).get("k").map(parseInt("k")).getOrElse(5)
        backend match {
          // driver-local rows: straight to JSON, no Spark in the path
          case l: HttpApi.LocalAnnBackend =>
            respond(ex, 200, HttpApi.similarJson(spark, l.similarRows(id, cap(k))))
          case _ => respondJson(ex, 200, backend.similar(id, cap(k)))
        }
      case (Some(backend), "POST", "/similar") =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val (vec, kOpt) = parseVectorBody(body)
        backend match {
          case l: HttpApi.LocalAnnBackend =>
            respond(ex, 200, HttpApi.similarJson(spark, l.similarToRows(vec, cap(kOpt.getOrElse(5)))))
          case _ => respondJson(ex, 200, backend.similarTo(vec, cap(kOpt.getOrElse(5))))
        }
      case _ =>
        respond(ex, 404, """{"error":"not found"}""")
    }
  })

  server.createContext("/transactions", handler { ex =>
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    path match {
      case p if p.startsWith("/transactions/") && p.endsWith("/recent") =>
        val cc = parseLong("cc_num")(
          p.stripPrefix("/transactions/").stripSuffix("/recent"))
        val k = queryParams(ex).get("k").map(parseInt("k")).getOrElse(5)
        respondJson(ex, 200, store.topKRecent(cc, cap(k)))
      case _ =>
        respond(ex, 404, """{"error":"not found"}""")
    }
  })

  private def parseInt(name: String)(s: String): Int =
    try s.toInt catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"$name must be an integer") }

  private def parseLong(name: String)(s: String): Long =
    try s.toLong catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"$name must be an integer") }

  /** Parse a `{"vector":[...], "k":N}` POST body (k optional) with a
    * plain in-JVM Jackson parse — a request body is a few KB of driver
    * work, and scheduling a full Spark JSON-read JOB per POST (the
    * previous idiom) put job-launch latency on the serving hot path.
    * Malformed JSON, a missing/empty vector, or non-numeric elements
    * are all a 400, never a 500 from deep inside the search. */
  private def parseVectorBody(body: String): (Array[Double], Option[Int]) = {
    require(body.trim.nonEmpty, "empty request body")
    val node =
      try HttpApi.mapper.readTree(body)
      catch { case e: com.fasterxml.jackson.core.JacksonException =>
        throw new IllegalArgumentException(
          s"malformed JSON body: ${String.valueOf(e.getMessage).take(200)}") }
    require(node != null && node.isObject, "body must be a JSON object")
    val vec = node.get("vector")
    require(vec != null && !vec.isNull, "missing field: vector")
    require(vec.isArray && vec.size > 0, "vector must be a non-empty array of numbers")
    val arr = new Array[Double](vec.size)
    var i = 0
    while (i < vec.size) {
      val el = vec.get(i)
      require(el.isNumber, "vector must be a non-empty array of numbers")
      arr(i) = el.asDouble
      i += 1
    }
    val kNode = node.get("k")
    val kOpt =
      if (kNode == null || kNode.isNull) None
      else {
        require(kNode.canConvertToInt, "k must be an integer")
        Some(kNode.asInt)
      }
    (arr, kOpt)
  }

  /** Parse a JSON-lines or JSON-array body against the offline schema
    * and append — the POST /features ingest (feature.py:25-54). The
    * offline table's own schema is enforced two ways: FAILFAST rejects
    * malformed JSON and unconvertible values, and an explicit
    * completeness check rejects rows with ABSENT fields (FAILFAST
    * alone parses a missing field to null — `{}` would otherwise
    * append a row of nulls). Either violation is a 400, never a
    * poisoned table. The row count and the per-column null flags come
    * from one aggregate, which also fills the parse cache the append
    * reads. */
  private def ingestJson(body: String): Long = {
    import spark.implicits._
    val trimmed = body.trim
    require(trimmed.nonEmpty, "empty request body")
    val lines =
      if (trimmed.startsWith("[")) Seq(trimmed)
      else trimmed.split("\n").toSeq
    val schema = store.offline.schema
    val parsed = spark.read.schema(schema)
      .option("mode", "FAILFAST")
      .option("multiLine", trimmed.startsWith("[").toString)
      .json(spark.createDataset(lines))
    val rows = parsed.cache()
    try {
      val stats =
        try rows.select(count(lit(1)) +:
          schema.fieldNames.toSeq.map(f => max(col(f).isNull).as(f)): _*).head()
        catch { case e: org.apache.spark.SparkException =>
          throw new IllegalArgumentException(
            s"malformed JSON body: ${String.valueOf(e.getMessage).take(200)}") }
      val n = stats.getLong(0)
      require(n > 0, "no rows parsed from body")
      val nullCols = schema.fieldNames.filter(f => stats.getAs[Boolean](f))
      require(nullCols.isEmpty,
        s"rows with missing/null fields: ${nullCols.mkString(", ")}")
      store.ingest(rows)
      n
    } finally rows.unpersist()
  }
}

object HttpApi {

  /** Shared request-body parser: `ObjectMapper` is thread-safe for
    * reads, so one instance serves all handler threads. */
  private[serve] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Pluggable similarity backend for `/similar` — top-k neighbor rows
    * for a STORED vector id (self excluded) or a RAW query vector. */
  trait AnnBackend {
    def similar(vecId: Long, k: Int): org.apache.spark.sql.DataFrame
    def similarTo(vector: Array[Double], k: Int): org.apache.spark.sql.DataFrame
  }

  /** A backend whose results are DRIVER-LOCAL rows: the HTTP handler
    * serializes them straight to JSON with Spark's JSON writer — no
    * DataFrame, no Spark job, no analysis pass in the request path
    * (~70 ms of per-request overhead measured on a 5-row local
    * relation). Row JSON matches `df.toJSON` of the DataFrame form
    * exactly (null `cos` omitted under the default
    * `spark.sql.jsonGenerator.ignoreNullFields`), so the two paths are
    * wire-compatible. */
  trait LocalAnnBackend extends AnnBackend {
    def similarRows(vecId: Long, k: Int): Array[(Long, Int, java.lang.Double)]
    def similarToRows(vector: Array[Double], k: Int): Array[(Long, Int, java.lang.Double)]
  }

  /** The schema of a `/similar` answer's rows. */
  private val similarSchema = StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = true)))

  private def similarJson(spark: SparkSession, rows: Array[(Long, Int, java.lang.Double)]): String =
    GraftLocalBridge.jsonArray(spark, similarSchema,
      rows.iterator.map { case (id, rank, cos) => InternalRow(id, rank, cos) })

  /** Serve `/similar` from a (possibly reloaded) IVF-PQ index THROUGH
    * the exact re-rank stage ([[graft.llm.Similarity.ivfPqTopKReranked]]):
    * the ADC pass over the stored code table over-fetches an
    * `overFetch`·k shortlist from `nProbe` probed cells, then exact
    * cosine on the shortlist's raw vectors decides the served top-k —
    * the recall the endpoint actually delivers is the `ivfpq_rerank`
    * row of the `ns_ann_recall` gate (≥0.9), not raw-ADC quality.
    * GET is a point lookup against the corpus (the id filter pushes to
    * the parquet scan); POST skips the lookup (the vector IS the
    * request). No quantizer fit, no corpus rescan — the only
    * corpus-side work per request is the shortlist's broadcast
    * vector-fetch join. */
  /** Serve `/similar` from a DRIVER-RESIDENT copy of the index
    * ([[graft.llm.Similarity.LocalIvfPq]]) — the production serving
    * shape: the Spark-job path's latency floor is per-request job
    * scheduling (~¼–½ s however small the data); holding the
    * index-scale working set locally (PQ codes + re-rank vectors, the
    * FAISS-replica contract) answers in single-digit milliseconds with
    * RESULT-IDENTICAL rows (same ADC, same rounding, same tie order —
    * HttpApiSpec pins parity against [[ivfPqBackend]], so the
    * `ns_ann_recall` ≥0.9 gate carries over verbatim). Spark runs twice
    * at construction (collect codes, collect vectors), never again. */
  def localIvfPqBackend(index: graft.llm.Similarity.IvfPqIndex,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, nProbe: Int = 6, overFetch: Int = 10): AnnBackend = new LocalAnnBackend {
    private val spark = corpus.sparkSession
    private val engine = graft.llm.Similarity.LocalIvfPq
      .build(index, corpus, idCol, vecCol)
    private val sentinelId: Long = {
      require(engine.vectorOf(Long.MinValue).isEmpty,
        s"corpus contains id ${Long.MinValue} — no sentinel id available for raw-vector serving")
      Long.MinValue
    }
    private def toDf(rows: Array[(Long, Int, java.lang.Double)]) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r =>
          org.apache.spark.sql.Row(r._1, r._2, r._3)): _*), similarSchema)
    override def similarRows(vecId: Long, k: Int): Array[(Long, Int, java.lang.Double)] = {
      val qv = engine.vectorOf(vecId).getOrElse(
        throw new IllegalArgumentException(s"unknown $idCol: $vecId"))
      engine.query(qv, vecId, k, nProbe, overFetch)
    }
    override def similarToRows(vector: Array[Double], k: Int): Array[(Long, Int, java.lang.Double)] = {
      val dim = index.centroids(0).length
      require(vector.length == dim,
        s"vector must have $dim dimensions, got ${vector.length}")
      engine.query(vector, sentinelId, k, nProbe, overFetch)
    }
    override def similar(vecId: Long, k: Int): org.apache.spark.sql.DataFrame =
      toDf(similarRows(vecId, k))
    override def similarTo(vector: Array[Double], k: Int): org.apache.spark.sql.DataFrame =
      toDf(similarToRows(vector, k))
  }

  def ivfPqBackend(index: graft.llm.Similarity.IvfPqIndex,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, nProbe: Int = 6, overFetch: Int = 10): AnnBackend = new AnnBackend {
    import org.apache.spark.sql.functions.{col, min}
    // The code table is the search's inner loop and is INDEX-scale
    // (m bytes/vector) — persist it once for the backend's lifetime.
    // A freshly-built index's codes are otherwise a LAZY encode plan
    // that re-encodes the corpus on EVERY request (measured: ~2x the
    // /similar latency); a reloaded index re-scans parquet per probe.
    // The backend owns this cache for as long as it serves (the
    // serving process's working set, not a leak — one table, bounded).
    private val servingIndex = {
      val cached = index.codes
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      cached.count()
      index.copy(codes = cached)
    }
    // The POST path tags its raw query vector with a sentinel id that
    // must not collide with any stored id (the id-based self-exclusion
    // inside the ADC pass would silently drop that stored vector from
    // every result). Validated ONCE at backend construction against
    // the code table's pruned id column — ids are plain longs, nothing
    // forbids negatives, so the old "-1 can't collide" assumption was
    // exactly the kind that fails silently.
    private val sentinelId: Long = {
      val minId = servingIndex.codes.agg(min(col("neighbor_id"))).head().getLong(0)
      require(minId > Long.MinValue,
        s"corpus contains id ${Long.MinValue} — no sentinel id available for raw-vector serving")
      Long.MinValue
    }
    override def similar(vecId: Long, k: Int): org.apache.spark.sql.DataFrame = {
      val q = corpus.filter(col(idCol) === vecId)
      require(q.limit(1).count() == 1, s"unknown $idCol: $vecId")
      // the ADC shortlist already excludes the query row itself
      graft.llm.Similarity
        .ivfPqTopKReranked(q, servingIndex, corpus, idCol, vecCol, k, nProbe, overFetch)
        .select(col("neighbor_id"), col("rank"), col("cos"))
    }
    override def similarTo(vector: Array[Double], k: Int): org.apache.spark.sql.DataFrame = {
      val dim = index.centroids(0).length
      require(vector.length == dim,
        s"vector must have $dim dimensions, got ${vector.length}")
      val spark = corpus.sparkSession
      import spark.implicits._
      val q = Seq((sentinelId, vector)).toDF(idCol, vecCol)
      graft.llm.Similarity
        .ivfPqTopKReranked(q, servingIndex, corpus, idCol, vecCol, k, nProbe, overFetch)
        .select(col("neighbor_id"), col("rank"), col("cos"))
    }
  }
}

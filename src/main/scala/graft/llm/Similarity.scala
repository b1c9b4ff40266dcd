package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector-similarity operators over an `ArrayType(FloatType)` embedding
  * column (SURVEY.md §2.12): exact cosine, brute-force top-k, and a
  * deterministic sign-random-projection LSH for the approximate path.
  *
  * Scale design (100 TB): the brute-force path broadcasts the (small)
  * query set against the corpus scan — no corpus shuffle, top-k via
  * per-query ranking window over (query, corpus-partition) partial
  * top-ks. The LSH path buckets the corpus once (cheap, shuffle on
  * 8-bit bucket id) and probes only matching buckets.
  */
object Similarity {

  /** Array cast to double for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product — native codegen'd loop ([[graft.expr.ArrayDotProduct]]);
    * bit-identical to the HOF fold [[dotHof]] but ~10× faster and fused
    * into the enclosing whole-stage-codegen span. */
  def dot(a: Column, b: Column): Column =
    graft.expr.ArrayDotProduct.native(a, b)

  /** The composed higher-order-function form of [[dot]] (zip_with +
    * aggregate, sequential left fold) — kept as the portability
    * reference and for the parity spec. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** null-on-zero-denominator division: ANSI mode makes x/0 an ERROR,
    * and one zero-norm vector must not kill a 100 TB job. */
  private def safeDiv(num: Column, den: Column): Column =
    when(den =!= 0.0, num / den)

  def cosine(a: Column, b: Column): Column =
    safeDiv(dot(a, b), norm(a) * norm(b))

  /** Brute-force cosine top-k: for every row of `queries`, the `k`
    * nearest corpus rows. Ranking is by 6-dp-rounded cosine with id
    * tiebreak so results are reproducible across engines. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // Norms are precomputed per side so each (query, corpus) pair costs
    // ONE array-fold instead of three (the higher-order-function fold is
    // interpreted, not codegen'd — minimize evaluations per pair).
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(safeDiv(dot(col("qv"), col("cv")), col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic sign-random-projection bucket id with `nBits` bits.
    * Projection b uses fixed ±1 coefficients from a SQUARED hash —
    * +1 iff ((i·7919 + b·104729 + 17)² ÷ 1024) is even (1-based element
    * index i) — reproducible in plain SQL, no stored projection matrix.
    * The square makes i and b interact nonlinearly: a LINEAR parity
    * like (i·31 + b·17) % 2 reduces to (i+b) % 2, whose projection
    * vectors are all ±each other — every vector lands in one of TWO
    * buckets and the "LSH" degenerates to one hyperplane (caught by the
    * multi-probe witness spec; empirically this formula fills 46-60 of
    * 64 buckets on random data at dim 8-64 and |w_a·w_b| stays ≤ dim/4
    * — near-orthogonal hyperplanes). No i64 overflow through dim 4096.
    * Elements are rounded to 6 dp so the vote sums are exact decimals
    * (order-independent). */
  def lshBucket(vec: Column, dim: Int, nBits: Int): Column = {
    // One rounded copy of the vector, then nBits native dot products
    // against LITERAL ±1 coefficient arrays — the naive expansion is
    // nBits × dim expression nodes (512 at 64-dim/8-bit), whose codegen
    // alone dominated the query. ArrayDotProduct folds in index order,
    // so values are bit-identical to the expanded sum-of-terms form.
    val rv = transform(asDouble(vec), x => round(x, 6))
    val projections = (0 until nBits).map { b =>
      val coefs = (1 to dim).map { i =>
        val h = i.toLong * 7919L + b.toLong * 104729L + 17L
        if ((h * h / 1024L) % 2L == 0L) 1.0 else -1.0
      }
      graft.expr.ArrayDotProduct.native(rv, array(coefs.map(lit): _*))
    }
    projections.zipWithIndex.map { case (p, b) =>
      when(p > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Approximate top-k: probe only the query's LSH bucket, then exact
    * cosine rank within it. Falls back to fewer than k results when the
    * bucket is small (callers widen via multi-probe if needed). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      lshBucket(col(vecCol), dim, nBits).as("bucket"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"),
      lshBucket(col(vecCol), dim, nBits).as("bucket"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(safeDiv(dot(col("qv"), col("cv")), col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Multi-probe LSH top-k: probe the query's bucket AND every bucket
    * at hamming distance 1 (flip each of the nBits sign bits) — the
    * standard recall repair for sign-projection LSH, where a near
    * neighbor on the far side of ONE hyperplane lands in an adjacent
    * bucket and single-probe misses it. Scores (nBits+1) buckets ≈
    * (nBits+1)/2^nBits of the corpus; the corpus is still bucketed
    * once and never shuffled per query (probe list explodes on the
    * broadcast query side). */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, nBits: Int, k: Int): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      lshBucket(col(vecCol), dim, nBits).as("bucket0"))
      .withColumn("qn", norm(col("qv")))
    val probes = array(col("bucket0") +: (0 until nBits).map(b =>
      col("bucket0").bitwiseXOR(lit(1L << b))): _*)
    val q = q0.withColumn("bucket", explode(probes)).drop("bucket0")
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"),
      lshBucket(col(vecCol), dim, nBits).as("bucket"))
      .withColumn("cn", norm(col("cv")))
    // each corpus row lives in exactly ONE bucket and probe buckets are
    // distinct, so the join emits no duplicate (query, neighbor) pairs
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(safeDiv(dot(col("qv"), col("cv")), col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Deterministic, partition-unbiased sample of up to `n` rows: order
    * by the md5 of the key and take the global top-n. Unlike
    * `limit(n)` — which drains partitions IN ORDER and on a
    * date-partitioned corpus sees only the first day's distribution —
    * the hash order is uniform over the whole corpus, and unlike
    * `sample(fraction)` the result is exactly n rows and identical
    * across runs and partition layouts. Plans as TakeOrderedAndProject:
    * each scan partition keeps its local top-n, only those reach the
    * driver-side merge — no global sort. */
  def hashOrderedSample(df: DataFrame, keyCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(keyCol).cast("string")), col(keyCol)).limit(n)

  /** Fit the IVF coarse quantizer ONCE, on a bounded sample, and hand
    * back plain centroid arrays. At 100 TB the KMeans fit must never
    * see the full corpus (it is an iterative multi-pass algorithm), and
    * it must not re-run per query — fit here, persist the centroids,
    * and pass them to [[ivfTopKWith]] for every subsequent query batch.
    * The sample is [[hashOrderedSample]]-drawn: deterministic and
    * unbiased w.r.t. partition order. */
  def fitIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, seed: Long = 42L,
      fitSampleRows: Int = 100000): Array[Array[Double]] = {
    // A coarse quantizer's product is the cell PARTITION, not converged
    // centroids — quality plateaus within a few Lloyd iterations. The
    // fit input is driver-bounded by construction (fitSampleRows × dim
    // doubles), so this runs the same local k-means++/Lloyd loop as
    // [[fitPqCodebooks]] (10-iteration budget, FAISS's convention)
    // instead of scheduling nCells × iters distributed jobs over a
    // sample that fits in memory. The CORPUS-side work — cell
    // assignment — stays a distributed broadcast-centroid map pass.
    val rows = fitSample(corpus, idCol, vecCol, fitSampleRows)
    localKMeans(rows, nCells, iters = 10, seed = seed)
  }

  /** The deterministic quantizer-fit sample every fitter here draws:
    * hash-ordered (partition-unbiased, layout-independent), collected
    * once to the driver. Extracted so [[buildIvfPqIndex]] pays ONE
    * sampling job for both the coarse centroids and the PQ codebooks. */
  private def fitSample(corpus: DataFrame, idCol: String, vecCol: String,
      fitSampleRows: Int): Array[Array[Double]] = {
    val rows = hashOrderedSample(
        corpus.select(col(idCol), asDouble(col(vecCol)).as("__v")), idCol, fitSampleRows)
      .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "empty corpus")
    rows
  }

  /** IVF (inverted-file) approximate top-k: partition the corpus into
    * `nCells` KMeans cells, then probe only the `nProbe` cells whose
    * centroids are nearest each query — the classic coarse-quantizer
    * ANN layout. Convenience form: fits the quantizer on a
    * `fitSampleRows`-capped sample ([[fitIvfCentroids]]) and delegates
    * to [[ivfTopKWith]]. For repeated query batches fit once and call
    * [[ivfTopKWith]] directly so the corpus is never re-clustered. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 2,
      seed: Long = 42L, fitSampleRows: Int = 100000): DataFrame = {
    val centroids = fitIvfCentroids(corpus, idCol, vecCol, nCells, seed, fitSampleRows)
    ivfTopKWith(queries, corpus, idCol, vecCol, k, centroids, nProbe)
  }

  /** IVF probe against PRE-FIT centroids — the steady-state query path.
    * Cell assignment is a one-pass broadcast-centroid map over the
    * corpus scan (no MLlib model, no shuffle), the probe is a broadcast
    * join on cell id, and only ~nProbe/nCells of the corpus is scored.
    * Nothing here depends on corpus size except the single scan. */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      nProbe: Int = 2): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(centroids.zipWithIndex)
    val nearestCells = org.apache.spark.sql.functions.udf { (v: Seq[Double], m: Int) =>
      bc.value.map { case (cent, i) =>
        var d = 0.0; var j = 0
        while (j < cent.length && j < v.length) {
          val t = v(j) - cent(j); d += t * t; j += 1
        }
        (i, d)
      }.sortBy(_._2).take(m).map(_._1)
    }
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", nearestCells(col("cv"), lit(1)).getItem(0))
      .withColumn("cn", norm(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("cell", explode(nearestCells(col("qv"), lit(nProbe))))
    val scored = assigned.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(safeDiv(dot(col("qv"), col("cv")), col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split the vector into
    * `m` subspaces and fit `k` centroids per subspace on a
    * [[hashOrderedSample]]-drawn sample — the codebook behind IVF-PQ,
    * the layout every billion-vector ANN deployment ships. Fit ONCE,
    * persist, and reuse across [[pqEncode]]/[[pqTopK]] calls; like
    * [[fitIvfCentroids]], the corpus itself is never clustered.
    * Returns codebooks(j)(c) = centroid c of subspace j. */
  def fitPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, seed: Long = 42L,
      fitSampleRows: Int = 100000): Array[Array[Array[Double]]] = {
    // The sample is driver-bounded by construction (fitSampleRows × dim
    // doubles; 100k × 64-dim = 51 MB) and each subspace problem is
    // k≤256 centroids over ≤16 dims — a DRIVER-scale computation. A
    // distributed KMeans here costs m × iters tiny Spark jobs (~6 s of
    // pure scheduling at bench scale) to do what a local Lloyd loop
    // does in milliseconds; FAISS trains PQ codebooks in-memory for the
    // same reason. Lower fitSampleRows for very wide vectors.
    fitPqCodebooksFrom(fitSample(corpus, idCol, vecCol, fitSampleRows), m, k, seed)
  }

  private def fitPqCodebooksFrom(rows: Array[Array[Double]], m: Int, k: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val dim = rows(0).length
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val pts = rows.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      localKMeans(pts, k, iters = 10, seed = seed + j)
    }
  }

  /** Deterministic driver-side Lloyd with k-means++ seeding — the
    * codebook trainer behind [[fitPqCodebooks]]. Empty clusters reseed
    * to the point farthest from its centroid (standard repair). */
  private[llm] def localKMeans(pts: Array[Array[Double]], k: Int,
      iters: Int, seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val rnd = new scala.util.Random(seed)
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val kk = math.min(k, n)
    val cents = Array.ofDim[Array[Double]](kk)
    cents(0) = pts(rnd.nextInt(n)).clone()
    val best = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0; var sum = 0.0
      while (i < n) {
        val d = dist2(pts(i), cents(c - 1))
        if (d < best(i)) best(i) = d
        sum += best(i); i += 1
      }
      var idx = 0
      if (sum > 0) {
        var r = rnd.nextDouble() * sum; var acc = 0.0; var ii = 0
        while (ii < n) {
          acc += best(ii)
          if (acc >= r) { idx = ii; ii = n } else ii += 1
        }
      } else idx = rnd.nextInt(n)
      cents(c) = pts(idx).clone(); c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var b = 0; var bd = Double.MaxValue; var cc = 0
        while (cc < kk) {
          val d = dist2(pts(i), cents(cc))
          if (d < bd) { bd = d; b = cc }
          cc += 1
        }
        assign(i) = b; i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](pts(0).length))
      val counts = new Array[Int](kk)
      i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1
        var j = 0
        while (j < pts(i).length) { sums(a)(j) += pts(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < kk) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < sums(cc).length) { sums(cc)(j) /= counts(cc); j += 1 }
          cents(cc) = sums(cc)
        } else {
          // reseed an empty cluster to the point farthest from its centroid
          var far = 0; var fd = -1.0; var ii = 0
          while (ii < n) {
            val d = dist2(pts(ii), cents(assign(ii)))
            if (d > fd) { fd = d; far = ii }
            ii += 1
          }
          cents(cc) = pts(far).clone()
        }
        cc += 1
      }
      it += 1
    }
    // pad (k > n corner: tiny corpora) by repeating the last centroid
    if (kk < k) Array.tabulate(k)(i => cents(math.min(i, kk - 1)).clone())
    else cents
  }

  /** PQ-encode a vector column: one centroid index per subspace —
    * dim doubles compress to `m` small ints (64-dim float → 8 bytes at
    * k ≤ 256). Pure broadcast-codebook map pass: zero shuffle, scan
    * partitioning carries through, and the code table is what a
    * 100 TB deployment stores/shuffles INSTEAD of raw vectors. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(codebooks)
    val enc = org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      val books = bc.value
      val m = books.length
      val sub = v.length / m
      Array.tabulate(m) { j =>
        val cents = books(j)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var d = 0.0; var t = 0
          while (t < sub) {
            val x = v(j * sub + t) - cents(c)(t); d += x * x; t += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
    }
    df.select(col(idCol), enc(asDouble(col(vecCol))).as("code"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    * its m×k subspace distance table ONCE (one UDF evaluation per
    * query row), then every (query, code) pair costs m table lookups —
    * never a d-dim arithmetic pass. The codes side stays as stored by
    * [[pqEncode]]; queries broadcast. Distances are squared L2 (on
    * unit-normalized embeddings the ranking equals cosine ranking).
    * Emits (query_id, rank, neighbor_id, adist). */
  def pqTopK(queries: DataFrame, codes: DataFrame, idCol: String,
      vecCol: String, k: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(codebooks)
    val nK = codebooks(0).length
    val dtab = org.apache.spark.sql.functions.udf { (q: Seq[Double]) =>
      val books = bc.value
      val m = books.length
      val sub = q.length / m
      val tab = new Array[Double](m * nK)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < books(j).length) {
          var d = 0.0; var t = 0
          while (t < sub) {
            val x = q(j * sub + t) - books(j)(c)(t); d += x * x; t += 1
          }
          tab(j * nK + c) = d; c += 1
        }
        j += 1
      }
      tab
    }
    val adc = org.apache.spark.sql.functions.udf { (tab: Seq[Double], code: Seq[Int]) =>
      var s = 0.0; var j = 0
      while (j < code.length) { s += tab(j * nK + code(j)); j += 1 }
      s
    }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qtab", dtab(col("qv"))).drop("qv")
    val scored = codes.select(col(idCol).as("neighbor_id"), col("code"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adc(col("qtab"), col("code")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"))
  }

  /** Residual PQ codebooks — the classic IVF-PQ refinement (Jégou et
    * al. 2011 §III): quantize `v − centroid(cell(v))` instead of raw
    * vectors. Residuals have smaller magnitude and a more centered
    * distribution than raw vectors, so the same m×k code budget spends
    * its resolution where vectors actually differ — reconstruction
    * error drops (spec-pinned vs the raw codebooks). Fit on a
    * hash-ordered sample like every other quantizer here. */
  def fitPqCodebooksResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], m: Int = 8, k: Int = 16,
      seed: Long = 42L, fitSampleRows: Int = 100000): Array[Array[Array[Double]]] = {
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val resid = org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      val cents = bc.value
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var j = 0
        while (j < cents(c).length && j < v.length) {
          val t = v(j) - cents(c)(j); d += t * t; j += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      v.indices.map(j => v(j) - cents(best)(j))
    }
    val residCorpus = corpus.select(col(idCol),
      resid(asDouble(col(vecCol))).as("__res"))
    fitPqCodebooks(residCorpus, idCol, "__res", m, k, seed, fitSampleRows)
  }

  /** [[pqEncode]] on cell residuals: assigns the IVF cell AND encodes
    * `v − centroid(cell)` against residual codebooks in one broadcast
    * map pass. Returns (id, cell, code) — the stored layout of a real
    * IVF-PQ index (cell id + m-byte code per vector). */
  def pqEncodeResidual(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bcC = df.sparkSession.sparkContext.broadcast(centroids)
    val bcB = df.sparkSession.sparkContext.broadcast(codebooks)
    val enc = org.apache.spark.sql.functions.udf { (v: Seq[Double]) =>
      val cents = bcC.value; val books = bcB.value
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var j = 0
        while (j < cents(c).length && j < v.length) {
          val t = v(j) - cents(c)(j); d += t * t; j += 1
        }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      val m = books.length
      val sub = v.length / m
      val code = Array.tabulate(m) { j =>
        val cs = books(j)
        var b2 = 0; var bd2 = Double.MaxValue; var c2 = 0
        while (c2 < cs.length) {
          var d = 0.0; var t = 0
          while (t < sub) {
            val x = (v(j * sub + t) - cents(best)(j * sub + t)) - cs(c2)(t)
            d += x * x; t += 1
          }
          if (d < bd2) { bd2 = d; b2 = c2 }
          c2 += 1
        }
        b2
      }
      (best, code)
    }
    df.select(col(idCol), enc(asDouble(col(vecCol))).as("__e"))
      .select(col(idCol), col("__e._1").as("cell"), col("__e._2").as("code"))
  }

  /** IVF-PQ top-k — the composition every billion-vector deployment
    * runs: the IVF coarse quantizer ([[fitIvfCentroids]]) prunes the
    * corpus to `nProbe` of `nCells` cells per query, and PQ codes
    * ([[fitPqCodebooks]]/[[pqEncode]]) replace raw vectors inside the
    * probed cells, scored by asymmetric distance. This variant encodes
    * RAW vectors (not cell residuals) so one codebook serves all cells
    * and the same codes back [[pqTopK]]; residual encoding is the
    * classic refinement when per-cell distributions diverge.
    *
    * At 100 TB: cell assignment and PQ encoding are one broadcast map
    * pass each (done once, stored); a query batch touches
    * ~nProbe/nCells of the CODE table — m bytes per vector, not the
    * vectors — and the scoring join is broadcast on cell id. With
    * nProbe = nCells the result equals [[pqTopK]] exactly (the spec
    * pins this parity). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], nProbe: Int = 2): DataFrame =
    ivfPqQuery(queries, encodeCorpus(corpus, idCol, vecCol, centroids, codebooks),
      idCol, vecCol, k, centroids, codebooks, nProbe)

  /** The corpus-encode phase of IVF-PQ — cell assignment + PQ code in
    * one broadcast map pass, emitted as (neighbor_id, cell, code).
    * Shared by the inline [[ivfPqTopK]] and [[buildIvfPqIndex]] so the
    * two paths can never diverge on the stored layout. */
  private def encodeCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val nearestCells = nearestCellsUdf(corpus, centroids)
    val cells = corpus.select(col(idCol), asDouble(col(vecCol)).as("__cv"))
      .withColumn("cell", nearestCells(col("__cv"), lit(1)).getItem(0))
      .select(col(idCol), col("cell"))
    pqEncode(corpus, idCol, vecCol, codebooks)
      .join(cells, Seq(idCol))
      .select(col(idCol).as("neighbor_id"), col("cell"), col("code"))
  }

  /** Broadcast-centroid m-nearest-cell assignment UDF shared by the
    * build and query sides of IVF-PQ. */
  private def nearestCellsUdf(df: DataFrame,
      centroids: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bcCent = df.sparkSession.sparkContext.broadcast(centroids.zipWithIndex)
    org.apache.spark.sql.functions.udf { (v: Seq[Double], m: Int) =>
      bcCent.value.map { case (cent, i) =>
        var d = 0.0; var j = 0
        while (j < cent.length && j < v.length) {
          val t = v(j) - cent(j); d += t * t; j += 1
        }
        (i, d)
      }.sortBy(_._2).take(m).map(_._1)
    }
  }

  /** The QUERY phase of IVF-PQ against an already-encoded code table
    * (`neighbor_id`, `cell`, `code`) — per-query ADC distance table,
    * nProbe cell probes, broadcast scoring join. [[ivfPqTopK]] and the
    * persisted-index path both end here, so their results agree by
    * construction. */
  private def ivfPqQuery(queries: DataFrame, coded: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], nProbe: Int): DataFrame = {
    val nearestCells = nearestCellsUdf(queries, centroids)
    val bcBooks = queries.sparkSession.sparkContext.broadcast(codebooks)
    val nK = codebooks(0).length
    val dtab = org.apache.spark.sql.functions.udf { (q: Seq[Double]) =>
      val books = bcBooks.value
      val m = books.length
      val sub = q.length / m
      val tab = new Array[Double](m * nK)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < books(j).length) {
          var d = 0.0; var t = 0
          while (t < sub) {
            val x = q(j * sub + t) - books(j)(c)(t); d += x * x; t += 1
          }
          tab(j * nK + c) = d; c += 1
        }
        j += 1
      }
      tab
    }
    val adc = org.apache.spark.sql.functions.udf { (tab: Seq[Double], code: Seq[Int]) =>
      var s = 0.0; var j = 0
      while (j < code.length) { s += tab(j * nK + code(j)); j += 1 }
      s
    }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qtab", dtab(col("qv")))
      .withColumn("cell", explode(nearestCells(col("qv"), lit(nProbe))))
      .drop("qv")
    val scored = coded.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adc(col("qtab"), col("code")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"))
  }

  /** A persisted IVF-PQ index: the distributed code table
    * (`neighbor_id`, `cell`, `code` — m small ints per vector) plus the
    * driver-scale coarse centroids and PQ codebooks. This is the stored
    * layout of a production ANN deployment — encode once, write,
    * reload, and serve query batches forever without touching the raw
    * vectors again (the [[TextStats.bm25Index]] build-once/query-many
    * contract, for vectors). */
  final case class IvfPqIndex(codes: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  /** Fit quantizers (sample-bounded, never over the full corpus) and
    * encode the corpus: ONE broadcast map pass emits (id, cell, code).
    * The heavy product — the code table — is a DataFrame, so a 100 TB
    * corpus encodes with zero shuffle and writes partitioned. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 8, m: Int = 8, kCodes: Int = 16, seed: Long = 42L,
      fitSampleRows: Int = 100000): IvfPqIndex = {
    // ONE sampling job serves both quantizer fits (identical draw by
    // construction — same hash order, same cap)
    val sample = fitSample(corpus, idCol, vecCol, fitSampleRows)
    val centroids = localKMeans(sample, nCells, iters = 10, seed = seed)
    val codebooks = fitPqCodebooksFrom(sample, m, kCodes, seed)
    IvfPqIndex(encodeCorpus(corpus, idCol, vecCol, centroids, codebooks),
      centroids, codebooks)
  }

  /** Persist an index under `path`: `codes/` is the distributed table
    * (partitioned by cell so a probe prunes to the probed cells'
    * files), `centroids/` and `codebooks/` are tiny parquet sidecars —
    * everything is plain parquet, readable by any engine. */
  def writeIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes")
    index.centroids.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vector")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.codebooks.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) } }
      .toSeq.toDF("subspace", "code", "vector")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Incremental index maintenance: encode NEW vectors with the
    * index's FROZEN quantizers and append their codes into the
    * cell-partitioned store — the growth path of a persisted ANN
    * deployment (the [[graft.operators.Sketches.mergeSliceTables]]
    * contract, for vectors). Quantizers are deliberately NOT refit:
    * refitting would silently invalidate every stored code; periodic
    * refits are an explicit rebuild ([[buildIvfPqIndex]] + rewrite).
    * Only the new batch is scanned and encoded — cost O(batch), the
    * stored codes never move; dynamic partition append touches only
    * the cells the batch lands in. Returns the reloaded (validated)
    * index. */
  def appendToIvfPqIndex(path: String, newVectors: DataFrame, idCol: String,
      vecCol: String): IvfPqIndex = {
    val spark = newVectors.sparkSession
    val cur = readIvfPqIndex(spark, path)
    // IDEMPOTENCE GUARD: ids already indexed are skipped, so a crashed-
    // and-replayed maintenance batch (or an overlapping caller batch)
    // cannot double-insert codes — the stored table reads only its
    // pruned neighbor_id column for the anti-join
    val fresh = newVectors.join(cur.codes.select(col("neighbor_id")),
      col(idCol) === col("neighbor_id"), "left_anti")
    encodeCorpus(fresh, idCol, vecCol, cur.centroids, cur.codebooks)
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    readIvfPqIndex(spark, path)
  }

  /** Reload a persisted index. The code table stays lazy/distributed;
    * only the two driver-scale sidecars collect. Sidecar shapes are
    * VALIDATED at read time — a mismatched or corrupted reload (wrong
    * subspace count vs the codes' `m`, centroid/codebook dim drift,
    * ragged codebooks, non-contiguous cell ids) otherwise surfaces
    * only later as an opaque ADC error mid-query; the require()s here
    * name the mismatch at the moment it is introduced. */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    val codes = spark.read.parquet(s"$path/codes")
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"), col("code"))
    val centroidRows = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("vector")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    require(centroidRows.nonEmpty, s"readIvfPqIndex($path): centroids sidecar is empty")
    require(centroidRows.map(_._1).sameElements(centroidRows.indices),
      s"readIvfPqIndex($path): centroid cell ids are not contiguous 0..n-1: " +
        centroidRows.map(_._1).mkString(","))
    val centroids = centroidRows.map(_._2)
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"readIvfPqIndex($path): ragged centroid dims (expected $dim)")
    val codebooks = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("code"), col("vector")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
    require(codebooks.nonEmpty, s"readIvfPqIndex($path): codebooks sidecar is empty")
    val m = codebooks.length
    val kCodes = codebooks.head.length
    require(codebooks.forall(_.length == kCodes),
      s"readIvfPqIndex($path): ragged codebooks (subspace code counts " +
        codebooks.map(_.length).mkString(",") + ")")
    val subWidth = codebooks.head.head.length
    require(codebooks.forall(_.forall(_.length == subWidth)),
      s"readIvfPqIndex($path): ragged codebook entry widths (expected $subWidth)")
    require(m * subWidth == dim,
      s"readIvfPqIndex($path): codebooks cover $m x $subWidth = ${m * subWidth} dims " +
        s"but centroids are $dim-dimensional — sidecars are from different builds")
    // One cheap head() guards the codes/codebooks contract without a full scan.
    codes.select(col("code"), col("cell")).limit(1).collect().foreach { r =>
      val codeLen = r.getSeq[Int](0).length
      require(codeLen == m,
        s"readIvfPqIndex($path): codes table has $codeLen sub-codes per vector " +
          s"but codebooks define $m subspaces — sidecars are from different builds")
      require(r.getInt(1) >= 0 && r.getInt(1) < centroids.length,
        s"readIvfPqIndex($path): codes reference cell ${r.getInt(1)} outside " +
          s"the ${centroids.length} stored centroids")
    }
    IvfPqIndex(codes, centroids, codebooks)
  }

  /** Query a (possibly reloaded) index — the steady-state serving path:
    * no quantizer fit, no corpus encode, just the probe-pruned ADC scan
    * over the stored code table. */
  def ivfPqTopKIndexed(queries: DataFrame, index: IvfPqIndex, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 2): DataFrame =
    ivfPqQuery(queries, index.codes, idCol, vecCol, k,
      index.centroids, index.codebooks, nProbe)

  /** Exact-distance re-rank of an approximate shortlist — the standard
    * IVF-PQ serving refinement (Jégou et al. 2011 §V evaluate exactly
    * this protocol: ADC shortlist of k′ ≫ k candidates, then exact
    * distances on the shortlist decide the final top-k). PQ codes are
    * lossy, so ADC ORDER within the shortlist is approximate; as long
    * as the true neighbors are ANYWHERE in the k′ candidates, exact
    * scoring recovers them — recall jumps from code-resolution-bound
    * to shortlist-coverage-bound.
    *
    * Scale shape: the shortlist is k′·|queries| rows — index-output
    * scale, never corpus scale — so it broadcasts (with its query
    * vectors already attached) against ONE corpus scan that fetches
    * only the shortlisted raw vectors; no corpus shuffle, no second
    * pass. Cost is O(k′·|queries|) exact distances on top of the ADC
    * search that produced the shortlist.
    *
    * `shortlist` needs (query_id, neighbor_id) in the [[pqTopK]] /
    * [[ivfPqTopKIndexed]] output shape (extra columns ignored);
    * `queries`/`corpus` supply the raw vectors. Output matches
    * [[cosineTopK]]: (query_id, rank, neighbor_id, cos). */
  def rerankExact(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val sl = shortlist.select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", norm(col("cv")))
    // attach query vectors to the (small) shortlist first, then ONE
    // broadcast-hash join against the corpus scan pulls exactly the
    // shortlisted vectors — the big side never shuffles
    val withQ = broadcast(sl.join(broadcast(q), "query_id"))
    val scored = c.join(withQ, "neighbor_id")
      .withColumn("cos", round(safeDiv(dot(col("qv"), col("cv")), col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** IVF-PQ search with exact re-rank — the production serving path:
    * ADC over-fetches a k′ = `overFetch`·k shortlist from `nProbe`
    * probed cells, then [[rerankExact]] scores the shortlist against
    * the raw vectors. Recall is bounded by shortlist coverage (probed
    * cells ∩ over-fetch depth), not by PQ code resolution — the gap
    * the repo's own recall gate measured (0.52 at raw ADC defaults)
    * closes to ≥0.9 at these defaults (floor-pinned in LlmSpec and
    * published by `ns_ann_recall`).
    *
    * Default nProbe=6 (of the gate's 8 cells) is deliberately high:
    * the synthetic embeddings table is ISOTROPIC random vectors — the
    * IVF worst case, where neighbors spread across cells almost
    * uniformly, so recall is ≈ probed-cell fraction no matter how good
    * the codes are (measured: the 0.80 plateau at nProbe=4/8 persists
    * from kCodes=16 through 256). On a real clustered corpus the same
    * recall arrives at much smaller nProbe/nCells; the knob to tune
    * per-corpus is cell coverage, and even at high nProbe the probe
    * still scans CODES (m bytes/vector), never raw vectors — the
    * rerank fetches only k′ of those. */
  def ivfPqTopKReranked(queries: DataFrame, index: IvfPqIndex,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 6, overFetch: Int = 10): DataFrame = {
    val shortlist = ivfPqTopKIndexed(queries, index, idCol, vecCol,
      k = math.max(k * overFetch, k), nProbe)
    rerankExact(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** Per-group embedding centroids: mean vector per `groupCol` — the
    * building block behind class prototypes, cluster labeling, and
    * centroid-init for downstream quantizers. Positions explode to
    * (group, idx, value) rows and aggregate per (group, idx) — ONE
    * uniform hash aggregate with map-side partial combine (dim × groups
    * keys), then the per-group array reassembles ordered. Values sum as
    * DECIMAL (exact, order-independent), the sum casts to double, and
    * ONE IEEE division by the count produces the mean — every step is
    * deterministic, so the result is bit-identical across engines and
    * partition orders (a double-typed sum would drift with partition
    * order; a decimal DIVISION would inherit engine-specific quotient
    * scales). Returns (group, centroid: array<double>, n_vectors). */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val pos = df.select(col(groupCol).as("grp"),
      posexplode(asDouble(col(vecCol))).as(Seq("idx", "v")))
    pos.groupBy(col("grp"), col("idx"))
      .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double") / count(lit(1))).as("m"),
        count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(
        transform(array_sort(collect_list(struct(col("idx"), col("m")))),
          s => s.getField("m")).as("centroid"),
        max(col("n")).as("n_vectors"))
  }

  /** Sign random projection (Achlioptas 2003 database-friendly JL):
    * reduce `dim`-dimensional embeddings to `outDim` coordinates, each
    * the dot product against a fixed ±1 vector — the cheap
    * dimensionality reduction in front of an ANN index or a pair
    * screen. Coefficients come from the same squared-hash family as
    * [[lshBucket]] (offset 53, so the hyperplanes are independent of
    * the LSH ones) — no stored projection matrix, reproducible in plain
    * SQL. Computation is EXACT and order-independent: elements are
    * rounded to integer micro-units (·1e6) first, so every projection
    * sum is an exact integer in double (|sum| ≪ 2⁵³) and the single
    * final ÷1e6 makes the output bit-identical on any engine and any
    * partition order. One codegen'd projection per row — zero shuffle,
    * zero state. Unscaled ±1 dots: divide by √outDim if calibrated
    * norms are needed (rankings/relative distances are unaffected).
    * Output: (idCol, projected: array<double>). */
  def signRandomProjection(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int): DataFrame = {
    val rv = transform(asDouble(col(vecCol)), x => round(x * 1e6, 0))
    val proj = (0 until outDim).map { j =>
      val coefs = (1 to dim).map { i =>
        val h = i.toLong * 7919L + j.toLong * 104729L + 53L
        if ((h * h / 1024L) % 2L == 0L) 1.0 else -1.0
      }
      graft.expr.ArrayDotProduct.native(rv, array(coefs.map(lit): _*)) / 1e6
    }
    df.select(col(idCol), array(proj: _*).as("projected"))
  }

  /** Per-dimension z-score standardization of an embedding column —
    * the feature-scaling pass in front of distance-based models (the
    * MLlib StandardScaler semantics, re-expressed SQL-native and
    * engine-exact). Two phases: (1) ONE hash aggregate over the
    * exploded positions computes per-dim count / Σx / Σx² on integer
    * micro-units (·1e6), so the moment sums are EXACT integers —
    * order-independent, no floating drift; (2) the dim-sized moment
    * table collects and unrolls into literal mean/std arrays applied in
    * a single zero-shuffle projection (same pattern as
    * [[assignToCentroids]]). mean, var = Σm²/n − mean² (population),
    * std and z all derive from the exact integer sums through one fixed
    * IEEE op sequence, so results are bit-identical across engines and
    * partition orders. Zero-variance dims yield null z (not ±Inf);
    * output z rounds to 6 dp. Output: (idCol, z: array<double>). */
  def standardizeEmbeddings(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    standardizeWith(df, idCol, vecCol, fitMoments(df, vecCol))

  /** Phase 1 of [[standardizeEmbeddings]]: the per-dim (mean, std) table
    * in micro-units, as plain arrays — fit ONCE on the training corpus,
    * persist alongside the model, and hand to [[standardizeWith]] for
    * every subsequent batch or STREAM (the apply phase is a stateless
    * projection, so it drops into a streaming select as-is; the fit is
    * an aggregation and cannot). Same fit-once/apply-many split as
    * [[fitIvfCentroids]]/[[ivfTopKWith]]. */
  def fitMoments(df: DataFrame, vecCol: String): Array[(Double, Double)] = {
    val micro = df.select(
      posexplode(transform(asDouble(col(vecCol)), x => round(x * 1e6, 0).cast("long")))
        .as(Seq("idx", "m")))
    // Σm² accumulates in DECIMAL(38,0) (the groupCentroids pattern):
    // micro-unit squares are ~1e10-1e12 per row, so a LongType sum
    // overflows around 1e7-1e9 rows — far below the 100 TB contract.
    // The per-row m·m product stays in long range (|m| < 3e9 for any
    // |x| < 3e3), only the SUM needed widening; values are identical
    // to the long sum wherever the long sum didn't overflow.
    micro.groupBy(col("idx"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
        sum((col("m") * col("m"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sm2"))
      .orderBy(col("idx"))
      .collect().map { r =>
        val n = r.getLong(1).toDouble
        val mean = r.getLong(2).toDouble / n
        val varr = r.getDecimal(3).doubleValue() / n - mean * mean
        (mean, math.sqrt(varr))
      }
  }

  /** Phase 2 of [[standardizeEmbeddings]]: apply pre-fit micro-unit
    * moments as one zero-shuffle, zero-state projection (works
    * unchanged on a streaming DataFrame). */
  def standardizeWith(df: DataFrame, idCol: String, vecCol: String,
      moments: Array[(Double, Double)]): DataFrame = {
    require(moments.nonEmpty, "empty moments")
    val means = array(moments.map(m => lit(m._1)): _*)
    val stds = array(moments.map(m => lit(m._2)): _*)
    val mv = transform(asDouble(col(vecCol)), x => round(x * 1e6, 0))
    val z = zip_with(zip_with(mv, means, (m, mu) => m - mu), stds,
      (d, s) => round(when(s > 0.0, d / s), 6))
    df.select(col(idCol), z.as("z"))
  }

  /** Nearest-prototype assignment: label every vector with its closest
    * centroid (squared euclidean) — the classification half of
    * k-means / the cell-assignment half of IVF, exposed as a first-class
    * operator. The centroid table (e.g. [[groupCentroids]] output) is
    * inherently small (groups × dim), so it collects to the driver and
    * unrolls into LITERAL coefficient arrays: the whole argmin is ONE
    * codegen'd projection over the corpus scan — no join, no shuffle,
    * no UDF — via `array_min` over (dist², group) structs (lexicographic
    * struct order = min distance, lowest group id on ties). dist² =
    * ‖v‖² − 2·v·c + ‖c‖², each term a native [[dot]]; rounded to 6 dp so
    * ranking and output are reproducible across engines. Rows with a
    * null vector yield null assignment (not a spurious nearest group).
    * Output: (idCol, assigned_grp: long, dist2). */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, grpCol: String = "grp",
      centroidCol: String = "centroid"): DataFrame = {
    val cents = centroids
      .select(col(grpCol).cast("long").as("g"), asDouble(col(centroidCol)).as("c"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "empty centroid table")
    val v = asDouble(col(vecCol))
    val best = array_min(array(cents.map { case (g, c) =>
      val cl = array(c.map(lit): _*)
      val cc = c.map(x => x * x).sum
      struct(
        round(dot(v, v) - lit(2.0) * dot(v, cl) + lit(cc), 6).as("d2"),
        lit(g).as("grp"))
    }: _*))
    df.select(col(idCol), when(col(vecCol).isNotNull, best).as("__m"))
      .select(col(idCol), col("__m.grp").as("assigned_grp"),
        col("__m.d2").as("dist2"))
  }

  /** Per-group embedding diversity: the mean pairwise cosine similarity
    * of all vector pairs in each group, WITHOUT materializing any pair.
    * For unit-normalized vectors u, Σ_{i≠j} u_i·u_j = ‖Σu‖² − n, so the
    * mean over the n(n−1)/2 unordered pairs is (‖Σu‖² − n)/(n(n−1)) —
    * one aggregation pass where the naive form is O(n²·dim) per group.
    * Low mean cosine = diverse group; near 1.0 = redundant/collapsed.
    * Zero-norm and null vectors are excluded (cosine undefined).
    * Singleton groups yield a null mean (no pairs). Per-dim sums of the
    * normalized components go through the same DECIMAL(28,10) exact
    * accumulation as [[groupCentroids]] (order-independent), then the
    * 64-term ‖Σu‖² reduction and final ratio round to 6 dp.
    * Output: (grp, n_vectors, mean_pairwise_cos). */
  def groupDiversity(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    val unit = df
      .select(col(groupCol).as("grp"), v.as("__v"), norm(v).as("__n"))
      .filter(col("__n") > 0.0)
      .select(col("grp"),
        posexplode(transform(col("__v"), x => x / col("__n"))).as(Seq("idx", "u")))
    unit.groupBy(col("grp"), col("idx"))
      .agg(sum(col("u").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
        .cast("double").as("s"), count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_vectors"),
        sum(col("s") * col("s")).as("ss"))
      .select(col("grp"), col("n_vectors"),
        round(when(col("n_vectors") > 1,
          (col("ss") - col("n_vectors")) /
            (col("n_vectors") * (col("n_vectors") - 1))), 6)
          .as("mean_pairwise_cos"))
  }

  /** Recall@k of an approximate ANN result against the exact one — the
    * quality gate every approximate index (IVF, PQ, LSH) ships behind:
    * recall = |approx-hits ∩ exact-top-k| / |exact-top-k| per query.
    * Both inputs are top-k result frames in the [[cosineTopK]] shape
    * (`queryCol`, `idCol` [, rank/score]); extra columns are ignored.
    * A query with no approx rows at all scores 0, not a dropped row —
    * silent misses are precisely what the gate exists to surface.
    *
    * Scale shape: the frames are k·|queries| rows — index-output
    * scale, never corpus scale — so the semi-join and the two
    * per-query counts are tiny next to the searches that produced
    * them; evaluating recall costs no corpus scan. */
  def recallAtK(exact: DataFrame, approx: DataFrame,
      queryCol: String = "query_id", idCol: String = "neighbor_id"): DataFrame = {
    val ex = exact.select(col(queryCol), col(idCol))
    val ap = approx.select(col(queryCol), col(idCol)).distinct()
    val exN = ex.groupBy(col(queryCol)).agg(count(lit(1)).as("n_exact"))
    val hits = ex.join(ap, Seq(queryCol, idCol), "left_semi")
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_hit"))
    exN.join(hits, Seq(queryCol), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  /** k-nearest-neighbor majority-vote classification: brute-force
    * cosine top-k per query ([[cosineTopK]] — broadcast query side, one
    * corpus scan), neighbor labels looked up by broadcasting the SMALL
    * top-k result back against the corpus (k·|queries| rows — never the
    * corpus itself), then one (query, label) count aggregate and a
    * per-query argmax with most-votes / lowest-label tiebreak.
    * Output: (query_id, pred_label, votes). */
  def knnClassify(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val topk = cosineTopK(queries, corpus, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("__lbl"))
    val votes = labels.join(broadcast(topk), "neighbor_id")
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__lbl").asc)
    votes.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("query_id"), col("__lbl").as("pred_label"), col("votes"))
  }

  /** Greedy MMR (maximal marginal relevance, Carbonell & Goldstein
    * 1998) diverse top-k WITHIN each group: repeatedly pick the item
    * maximizing λ·score − (1−λ)·max-cosine-to-already-picked. Pure
    * top-k by score returns k near-copies when a cluster is redundant;
    * MMR trades relevance against novelty — the selection step behind
    * dedup-aware sampling and retrieval re-ranking.
    *
    * The greedy chain is inherently sequential, so each group runs as
    * one typed `flatMapGroups` call over its member list — groups
    * distribute, members don't. That bounds the unit of work at ONE
    * group (cluster/block sized by construction upstream); `maxGroup`
    * hard-caps the in-memory list (members taken in ascending-id order
    * — deterministic) so a degenerate group cannot OOM an executor.
    * O(k·|group|·dim) per group. Ties break to the lowest id; scores
    * round to 6 dp. Output: (grp, rank, id, mmr: the round-winning
    * marginal score; rank 1 = highest raw score, seed pick). */
  def diverseTopKPerGroup(df: DataFrame, groupCol: String, idCol: String,
      vecCol: String, scoreCol: String, k: Int, lambda: Double = 0.7,
      maxGroup: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(groupCol).cast("long").as("grp"),
        col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("vec"), col(scoreCol).cast("double").as("score"))
      .as[(Long, Long, Seq[Double], Double)]
    ds.groupByKey(_._1).flatMapGroups { (g, it) =>
      val items = it.take(maxGroup).toArray.sortBy(x => (x._2))
      val vecs = items.map(_._3.toArray)
      val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
      def cos(i: Int, j: Int): Double = {
        if (norms(i) == 0.0 || norms(j) == 0.0) 0.0
        else {
          var s = 0.0; var d = 0
          val a = vecs(i); val b = vecs(j)
          while (d < a.length && d < b.length) { s += a(d) * b(d); d += 1 }
          s / (norms(i) * norms(j))
        }
      }
      val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      while (picked.length < math.min(k, items.length)) {
        var bestIdx = -1; var bestVal = Double.NegativeInfinity
        var i = 0
        while (i < items.length) {
          if (!picked.contains(i)) {
            val maxSim = if (picked.isEmpty) 0.0 else picked.map(j => cos(i, j)).max
            val mmr = lambda * items(i)._4 - (1.0 - lambda) * maxSim
            // strict > keeps the earliest (lowest-id) candidate on ties
            if (mmr > bestVal) { bestVal = mmr; bestIdx = i }
          }
          i += 1
        }
        picked += bestIdx
        out += ((g, picked.length, items(bestIdx)._2,
          math.rint(bestVal * 1e6) / 1e6))
      }
      out.iterator
    }.toDF("grp", "rank", "id", "mmr")
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× compression step before shipping vectors to an ANN
    * index: scale = max|x| / 127, q_i = round(x_i / scale) ∈ [-127,127].
    * Per-row, shuffle-free, scan partitioning carries through. Zero
    * vectors quantize to all-zero with a NULL scale (ANSI-safe — no
    * divide-by-zero kills the job). The quantized array is emitted as a
    * CSV string so the result is hash-comparable across engines. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dv = asDouble(col(vecCol))
    df.select(col(idCol).as("vec_id"), dv.as("v"),
        array_max(transform(dv, x => abs(x))).as("ma"))
      .withColumn("scale", when(col("ma") > 0.0, col("ma") / 127.0))
      .select(col("vec_id"), round(col("scale"), 9).as("scale"),
        when(col("scale").isNotNull,
            array_join(transform(col("v"),
              x => round(x / col("scale"), 0).cast("int").cast("string")), ","))
          .otherwise(array_join(transform(col("v"), _ => lit("0")), ","))
          .as("q_csv"))
  }

  /** All pairs with cosine ≥ threshold within blocking key `blockCol`
    * (e.g. a cluster label or LSH bucket) — never a full cross join. */
  def cosinePairsWithin(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val v = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
      asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cos", round(safeDiv(dot(col("a.v"), col("b.v")), col("a.n") * col("b.n")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** Embedding-cosine near-duplicate DEDUP within a blocking key: every
    * row of `df` comes back with `is_dup` (an earlier-id row in the same
    * block has cosine ≥ threshold) and `dup_of` (the smallest such id,
    * NULL for keepers). Keep-first-by-id is the standard deterministic
    * survivor rule; filtering `!is_dup` yields the deduplicated corpus.
    *
    * Scale shape: pairs come from [[cosinePairsWithin]] — block-keyed
    * self-join, never corpus² — and the flag join back is on the id key
    * the pair aggregate already produced. At full scale the block key is
    * an LSH bucket ([[lshBucket]]) or shard id, which is exactly how
    * production near-dup passes bound the pair space (shard-local dedup
    * after a global exact pass). */
  def embeddingDedupWithin(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val dupOf = cosinePairsWithin(df, idCol, vecCol, blockCol, threshold)
      .groupBy(col("id_b").as("__id")).agg(min(col("id_a")).as("dup_of"))
    df.join(dupOf, col(idCol) === col("__id"), "left").drop("__id")
      .withColumn("is_dup", col("dup_of").isNotNull)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = KMeans-cluster the embeddings, then drop
    * near-cosine-duplicates WITHIN each cluster (keep the lowest id of
    * each duplicate pair's group). The cluster id is the blocking key —
    * pairwise scoring never crosses clusters, so the comparison count
    * is Σ|cluster|² instead of corpus², and each cluster's pair join is
    * an independent shuffle partition.
    *
    * At 100 TB: fit the quantizer on a sample (`fitSampleRows` caps the
    * KMeans input; the draw is [[hashOrderedSample]] — `limit(n)` would
    * drain partitions in order and fit one day's distribution on a
    * date-partitioned corpus), assignment is a broadcast-centroid map
    * pass, and the within-cluster join inherits [[cosinePairsWithin]]'s
    * block-keyed shape. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, threshold: Double = 0.97, seed: Long = 42L,
      fitSampleRows: Int = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val toVec = org.apache.spark.sql.functions.udf { (a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray)
    }
    val feat = df.withColumn("__features", toVec(col(vecCol)))
    val km = new KMeans().setK(nClusters).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__features").setPredictionCol("__cluster")
      .fit(hashOrderedSample(feat.select(col(idCol), col("__features")),
        idCol, fitSampleRows))
    val assigned = km.transform(feat)
    embeddingDedupWithin(assigned, idCol, vecCol, "__cluster", threshold)
      .withColumnRenamed("__cluster", "cluster")
      .drop("__features")
  }

  /** DRIVER-RESIDENT IVF-PQ serving engine — the latency floor of the
    * Spark-job path is Spark's per-job scheduling (~hundreds of ms per
    * /similar request even with every table cached); a serving replica
    * instead holds the INDEX-SCALE working set locally (cell-bucketed
    * PQ codes, centroids, codebooks, plus the raw vectors for the
    * exact re-rank) and answers in pure driver math: distance table →
    * probed-cell ADC scan with a bounded heap → exact cosine re-rank.
    * Same algorithm, same rounding (HALF_UP at 6 decimals), same tie
    * order as [[ivfPqTopKReranked]] — result-identical by construction
    * (HttpApiSpec pins the parity). Memory contract: codes are m bytes
    * per vector, vectors dim×8 — the classic ANN-server working set
    * (FAISS-style), index-scale by design. Build once per index via
    * [[LocalIvfPq.build]]; Spark is only touched at build time. */
  final class LocalIvfPq private (
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      cellIds: Array[Array[Long]],
      cellCodes: Array[Array[Int]], // flattened m codes per row, per cell
      vectors: java.util.HashMap[Long, Array[Double]]) {

    private val m = codebooks.length
    private val nK = codebooks(0).length
    private val norms = {
      val h = new java.util.HashMap[Long, Double](vectors.size() * 2)
      vectors.forEach((id, v) => h.put(id, math.sqrt(localDot(v, v))))
      h
    }

    private def localDot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Spark `round(_, 6)` semantics (BigDecimal HALF_UP). */
    private def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

    def vectorOf(id: Long): Option[Array[Double]] = Option(vectors.get(id))

    def size: Int = vectors.size()

    /** Top-k neighbors of `qv`, excluding `excludeId`:
      * `(neighbor_id, rank, cos)` with `cos` null when either norm is
      * zero (sorted last — the safeDiv contract). */
    def query(qv: Array[Double], excludeId: Long, k: Int,
        nProbe: Int, overFetch: Int): Array[(Long, Int, java.lang.Double)] = {
      // per-query subspace distance table — the ADC inner loop's LUT
      val sub = qv.length / m
      val tab = new Array[Double](m * nK)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < codebooks(j).length) {
          var d = 0.0; var t = 0
          while (t < sub) { val x = qv(j * sub + t) - codebooks(j)(c)(t); d += x * x; t += 1 }
          tab(j * nK + c) = d; c += 1
        }
        j += 1
      }
      // nProbe nearest cells (stable on ties, like the UDF's sortBy)
      val probed = centroids.indices.map { i =>
        val cent = centroids(i)
        var d = 0.0; var t = 0
        val n = math.min(cent.length, qv.length)
        while (t < n) { val x = qv(t) - cent(t); d += x * x; t += 1 }
        (i, d)
      }.sortBy(_._2).take(nProbe).map(_._1)
      // bounded top-k' by (adist, neighbor_id) — max-heap evicts worst
      val kPrime = math.max(k * overFetch, k)
      val heap = new java.util.PriorityQueue[(Double, Long)](kPrime + 1,
        (a: (Double, Long), b: (Double, Long)) => {
          val c = java.lang.Double.compare(b._1, a._1)
          if (c != 0) c else java.lang.Long.compare(b._2, a._2)
        })
      probed.foreach { cell =>
        val ids = cellIds(cell); val codes = cellCodes(cell)
        var r = 0
        while (r < ids.length) {
          val id = ids(r)
          if (id != excludeId) {
            var s = 0.0; var jj = 0
            val off = r * m
            while (jj < m) { s += tab(jj * nK + codes(off + jj)); jj += 1 }
            val a = round6(s)
            if (heap.size() < kPrime) heap.add((a, id))
            else {
              val worst = heap.peek()
              if (a < worst._1 || (a == worst._1 && id < worst._2)) {
                heap.poll(); heap.add((a, id))
              }
            }
          }
          r += 1
        }
      }
      // exact cosine re-rank of the shortlist (rerankExact's order:
      // cos desc nulls-last, then neighbor_id)
      val qn = math.sqrt(localDot(qv, qv))
      val shortlist = new Array[(Long, java.lang.Double)](heap.size())
      var i = shortlist.length - 1
      while (i >= 0) {
        val (_, id) = heap.poll()
        val cv = vectors.get(id)
        val den = qn * norms.get(id)
        val cos: java.lang.Double =
          if (cv == null || den == 0.0) null
          else java.lang.Double.valueOf(round6(localDot(qv, cv) / den))
        shortlist(i) = (id, cos)
        i -= 1
      }
      val ranked = shortlist.sortWith { (a, b) =>
        (a._2, b._2) match {
          case (null, null) => a._1 < b._1
          case (null, _) => false
          case (_, null) => true
          case (x, y) =>
            if (x.doubleValue() != y.doubleValue()) x.doubleValue() > y.doubleValue()
            else a._1 < b._1
        }
      }.take(k)
      ranked.zipWithIndex.map { case ((id, cos), r) => (id, r + 1, cos) }
    }
  }

  object LocalIvfPq {
    /** Collect an index (+ the corpus vectors the re-rank needs) into
      * a serving engine. One job over the code table, one column-pruned
      * job over the corpus — then every query is driver-local.
      *
      * `maxBytes` bounds the DRIVER working set (§5: the driver should
      * do almost no data work — an unbounded collect of a 10⁹-vector
      * corpus is a silent OOM long before the JVM reports it against
      * this call). The estimate is checked BEFORE anything collects:
      * rows × (raw vector doubles × 1.5 boxing/map overhead + m PQ-code
      * ints + per-entry header). A corpus over budget fails loudly with
      * the remedies (raise the budget on a bigger driver, shrink the
      * corpus, or serve distributed via [[ivfPqTopKReranked]]) instead
      * of collecting until the heap dies. The default budget is half
      * the driver's maximum heap, so it follows the driver it runs on.
      * An index with no centroids fails loudly too: there is no
      * dimension to size the corpus by. */
    def build(index: IvfPqIndex, corpus: DataFrame, idCol: String,
        vecCol: String, maxBytes: Long = Runtime.getRuntime.maxMemory / 2): LocalIvfPq = {
      require(index.centroids.nonEmpty,
        "LocalIvfPq.build: the index has no centroids — build it over a " +
          "non-empty corpus (Similarity.buildIvfPqIndex) before serving it")
      val dim = index.centroids.head.length
      val m = index.codebooks.length
      val rows = corpus.count()
      val estBytes = rows * (dim.toLong * 8L * 3L / 2L + m.toLong * 4L + 48L)
      require(estBytes <= maxBytes,
        f"LocalIvfPq.build: $rows%,d vectors of dim $dim ≈ $estBytes%,d bytes " +
          f"on the driver exceeds the $maxBytes%,d-byte budget — raise " +
          "maxBytes on a driver sized for it, reduce the corpus, or serve " +
          "distributed (Similarity.ivfPqTopKReranked)")
      val codeRows = index.codes
        .select(col("neighbor_id").cast("long"), col("cell"), col("code"))
        .collect()
      val nCells = index.centroids.length
      val perCellIds = Array.fill(nCells)(new scala.collection.mutable.ArrayBuffer[Long])
      val perCellCodes = Array.fill(nCells)(new scala.collection.mutable.ArrayBuffer[Int])
      codeRows.foreach { r =>
        val cell = r.getInt(1)
        perCellIds(cell) += r.getLong(0)
        perCellCodes(cell) ++= r.getSeq[Int](2)
      }
      val vecRows = corpus
        .select(col(idCol).cast("long"), asDouble(col(vecCol)))
        .collect()
      val vecs = new java.util.HashMap[Long, Array[Double]](vecRows.length * 2)
      vecRows.foreach(r => vecs.put(r.getLong(0), r.getSeq[Double](1).toArray))
      new LocalIvfPq(index.centroids, index.codebooks,
        perCellIds.map(_.toArray), perCellCodes.map(_.toArray), vecs)
    }
  }
}

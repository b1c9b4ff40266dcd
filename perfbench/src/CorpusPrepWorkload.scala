package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.{Bpe, CorpusPrep, Dedup, Similarity}

/** The LLM training-data operators on a seeded corpus with planted
  * exact duplicates, near-duplicate clusters, Gopher-rule rejects and
  * benchmark-contaminated documents. A round runs `CorpusPrep.prepare`,
  * `Dedup.dedupCorpus`, BPE fit + encode and an IVF-PQ index build,
  * each forced by checksum. */
final class CorpusPrepWorkload extends Workload {
  val Docs = 2400
  val ExactGroups = 60      // 2–4 identical copies each
  val NearClusters = 60     // a base document and 2 one-word edits of it
  val Rejects = 60
  val Contaminated = 40
  val BenchDocs = 30
  val Merges = 12
  val Vectors = 8000
  val Dim = 32
  val K = 10
  val Stopwords: Array[String] = Array("the", "a", "an", "of", "and", "or", "to", "in", "is",
    "are", "was", "for", "on", "with", "as", "at", "by", "it", "that", "this")

  /** What the generator planted, by document id. */
  private final case class Plan(text: Map[Long, String], exact: Seq[Seq[Long]],
      near: Seq[Seq[Long]], rejects: Set[Long], contaminated: Set[Long])

  private var dir: String = _
  private var plan: Plan = _
  private var vectors: Array[Array[Double]] = _
  private var docsPath: String = _
  private var benchPath: String = _
  private var vecPath: String = _

  private val prepMs, dedupMs, bpeMs, annMs = ArrayBuffer.empty[Double]
  private var prepDf: DataFrame = _
  private var dedupDf: DataFrame = _
  private var encoded: DataFrame = _
  private var index: Similarity.IvfPqIndex = _

  private def corpus(rng: SplittableRandom): (Plan, Seq[(Long, String)]) = {
    val vocab = Array.fill(3000) {
      val n = 3 + rng.nextInt(7)
      new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
    }
    def words(n: Int) = Array.fill(n) {
      if (rng.nextInt(4) == 0) Stopwords(rng.nextInt(Stopwords.length)) else vocab(rng.nextInt(vocab.length))
    }
    def doc() = words(40 + rng.nextInt(80))
    val bench = Seq.fill(BenchDocs)(doc())
    val text = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    var id = 0L
    def add(ws: Array[String]): Long = { id += 1; text(id) = ws.mkString(" "); id }
    val exact = Seq.fill(ExactGroups) { val d = doc(); Seq.fill(2 + rng.nextInt(3))(add(d)) }
    val near = Seq.fill(NearClusters) {
      val d = doc()
      add(d) +: Seq.fill(2) {
        val e = d.clone()
        e(rng.nextInt(e.length)) = vocab(rng.nextInt(vocab.length))
        add(e)
      }
    }
    val rejects = (0 until Rejects).map { i =>
      i % 3 match {
        case 0 => add(words(8))                                       // too short
        case 1 => add(Array.fill(60)(vocab(rng.nextInt(vocab.length)))) // no stopwords
        case _ => add(Array.fill(50)(vocab(i)) ++ words(10))         // repeated word
      }
    }.toSet
    val contaminated = (0 until Contaminated).map { _ =>
      val b = bench(rng.nextInt(bench.length))
      val at = rng.nextInt(b.length - 20)
      add(words(30) ++ b.slice(at, at + 20) ++ words(30))
    }.toSet
    while (id < Docs) add(doc())
    val benchRows = bench.zipWithIndex.map { case (b, i) => (1000000L + i, b.mkString(" ")) }
    (Plan(text.toMap, exact, near, rejects, contaminated), benchRows)
  }

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    dir = ctx.dir("corpus")
    val rng = new SplittableRandom(ctx.seed)
    val (p, bench) = corpus(rng)
    plan = p
    val sources = Array("web", "books", "code")
    docsPath = s"$dir/docs"
    p.text.toSeq.sortBy(_._1).map { case (i, t) => (i, t, sources((i % 3).toInt)) }
      .toDF("doc_id", "text", "source").repartition(3).write.parquet(docsPath)
    benchPath = s"$dir/bench"
    bench.toDF("doc_id", "text").coalesce(1).write.parquet(benchPath)
    vectors = Gen.embeddings(rng, Vectors, Dim)
    vecPath = s"$dir/vectors"
    vectors.indices.map(i => (i.toLong, vectors(i).toSeq)).toDF("id", "vec")
      .repartition(3).write.parquet(vecPath)
  }

  def warmup(ctx: Ctx): Unit = round(ctx, warm = true)

  private def round(ctx: Ctx, warm: Boolean): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath)
    val bench = spark.read.parquet(benchPath)
    def timed(into: ArrayBuffer[Double], name: String)(f: => Unit): Unit =
      if (warm) f
      else {
        val t = System.nanoTime()
        if (ctx.ops(name)(Trace.span(name)(f)).isDefined) into += Stats.msSince(t)
      }
    timed(prepMs, "llm.prep") {
      prepDf = CorpusPrep.prepare(docs, bench, "doc_id", "text", "source", Map.empty)
      Force(prepDf, "llm.prep", ctx.checks)
    }
    timed(dedupMs, "llm.dedup") {
      dedupDf = Dedup.dedupCorpus(docs, "doc_id", "text")
      Force(dedupDf, "llm.dedup", ctx.checks)
    }
    timed(bpeMs, "llm.bpe") {
      val merges = Trace.span("llm.bpe_fit")(Bpe.fitMerges(Bpe.wordFreqs(docs, "text"), Merges))
      Trace.span("llm.bpe_encode") {
        encoded = Bpe.encode(docs, "text", merges, Bpe.alphabet(docs, "text")).persist()
        Force(encoded, "llm.bpe_encode", ctx.checks)
      }
    }
    timed(annMs, "llm.ann_build") {
      index = Similarity.buildIvfPqIndex(spark.read.parquet(vecPath), "id", "vec")
      Force(index.codes, "llm.ann_build", ctx.checks)
    }
  }

  def measure(ctx: Ctx): Unit = {
    Seq(prepMs, dedupMs, bpeMs, annMs).foreach(_.clear())
    val t0 = System.nanoTime()
    do {
      if (encoded != null) encoded.unpersist()
      round(ctx, warm = false)
    } while (Stats.secondsSince(t0) < ctx.args.seconds)
  }

  def finish(ctx: Ctx): Result = {
    val spark = ctx.spark
    val checks = ctx.checks
    val all = plan.text.keySet
    def ids(df: DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val prepOut = ids(prepDf)
    val dedupOut = ids(dedupDf)
    checks.guard("prepare keeps exactly the clean, first-of-group documents") {
      plan.exact.foreach(g => checks(g.count(prepOut) == 1, s"exact group $g kept ${g.count(prepOut)}"))
      checks((plan.rejects ++ plan.contaminated).forall(!prepOut(_)), "a reject or contaminated doc survived")
      val dupCopies = plan.exact.flatMap(g => g.filter(_ != g.min)).toSet
      val expect = all -- plan.rejects -- plan.contaminated -- dupCopies
      checks(prepOut == expect, s"prepare kept ${prepOut.size} docs, expected ${expect.size}")
    }
    val nearMembers = plan.near.flatMap(c => c.filter(_ != c.min))
    val dropped = all -- dedupOut
    checks.guard("near-duplicate dedup") {
      val recall = nearMembers.count(dropped).toDouble / nearMembers.size
      checks(recall >= 0.9, s"near-duplicate recall $recall below 0.9")
      val planted = (plan.near ++ plan.exact).flatten.toSet
      checks(dropped.forall(planted), s"dedup dropped unplanted docs ${(dropped -- planted).take(5)}")
      checks(plan.near.forall(c => dedupOut(c.min)) && plan.exact.forall(g => dedupOut(g.min)),
        "dedup dropped a cluster's representative")
    }
    checks.guard("BPE tokens concatenate back to the words") {
      encoded.select("doc_id", "tokens", "token_ids").limit(200).collect().foreach { r =>
        val id = r.getLong(0)
        val toks = r.getSeq[String](1)
        checks(toks.mkString == plan.text(id).replace(" ", ""), s"doc $id tokens do not rebuild its text")
        checks(!r.getSeq[Int](2).contains(-1), s"doc $id has out-of-vocabulary tokens")
      }
    }
    val recall = annRecall(spark)
    checks(recall >= 0.9, s"IVF-PQ recall@$K = $recall")
    val docsPerS = Docs / ((Stats.median(prepMs) + Stats.median(dedupMs) + Stats.median(bpeMs)) / 1000)
    val named = Seq(
      ("prep_docs_per_s", Docs / (Stats.median(prepMs) / 1000), "1/s"),
      ("dedup_docs_per_s", Docs / (Stats.median(dedupMs) / 1000), "1/s"),
      ("bpe_docs_per_s", Docs / (Stats.median(bpeMs) / 1000), "1/s"),
      ("ann_build_s", Stats.median(annMs) / 1000, "s"))
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        def ms(n: String) = Stats.median(Trace.named(n).map(_.ms))
        val prep = Trace.named("llm.prep")
        val pairs = Dedup.minhashCandidatePairs(spark.read.parquet(docsPath), "doc_id", "text", 8, 6).count()
        Map(
          "llm.prep_ms" -> ms("llm.prep"),
          "llm.prep_jobs" -> prep.map(Trace.total(_, "jobs")).sum.toDouble / math.max(1, prep.size),
          "llm.dedup_ms" -> ms("llm.dedup"),
          "llm.dedup_candidate_pairs" -> pairs.toDouble,
          "llm.dedup_dropped_docs" -> dropped.size.toDouble,
          "llm.bpe_fit_ms" -> ms("llm.bpe_fit"),
          "llm.bpe_encode_ms" -> ms("llm.bpe_encode"),
          "llm.ann_build_ms" -> ms("llm.ann_build"),
          "llm.ann_recall_at_k" -> recall)
      }
    Result(docsPerS, Stats.median(annMs), named, layers)
  }

  /** Mean recall@K of the last index (re-ranked, as served) against
    * exact cosine top-K, over 50 seeded query vectors. */
  private def annRecall(spark: SparkSession): Double = {
    val engine = Similarity.LocalIvfPq.build(index, spark.read.parquet(vecPath), "id", "vec")
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val rng = new SplittableRandom(7)
    val rs = Seq.fill(50) {
      val q = rng.nextInt(Vectors)
      val qv = vectors(q)
      val exact = vectors.indices.filter(_ != q).map { i =>
        (i.toLong, qv.indices.map(j => qv(j) * vectors(i)(j)).sum / (norm(qv) * norm(vectors(i))))
      }.sortBy(p => (-p._2, p._1)).take(K).map(_._1).toSet
      engine.query(qv, q.toLong, K, 6, 10).map(_._1).count(exact).toDouble / K
    }
    rs.sum / rs.size
  }

  override def close(): Unit = if (encoded != null) encoded.unpersist()
}

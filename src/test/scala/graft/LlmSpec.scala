package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{CorpusPrep, Dedup, Multimodal, Retrieval, Shards, Similarity, TextStats}

/** North-star operator semantics on crafted fixtures. */
class LlmSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 0
    (2L, "completely different content about spark query engines and shuffles here"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val g = Dedup.exactGroups(docs, "doc_id", md5($"text")).collect()
    assert(g.length == 4)
    val dupGroup = g.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 0L) // keep_id = min(0, 3)
  }

  test("minhash candidates find exact and near dup pairs, not the unrelated doc") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", n = 8, minMatches = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), s"exact dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc matched")
  }

  test("identical docs get identical simhash; unrelated docs differ") {
    val m = Dedup.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == m(3L))
    assert(m(0L) != m(2L))
  }

  test("ngram jaccard is 1.0 for exact dups and high for near dups") {
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(j((0L, 3L)) == 1.0)
    assert(j((0L, 1L)) > 0.5 && j((0L, 1L)) < 1.0)
    assert(!j.contains((0L, 2L)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1), // opposite of 0
    (4L, Array(0.8f, 0.2f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("chunk dedup stats: shared chunks counted, unique docs at ratio 0") {
    // 5-token chunks: docs 10 and 11 share their first chunk exactly;
    // doc 12 shares nothing.
    val d = Seq(
      (10L, "a b c d e f g h i j"),         // chunks: [a b c d e], [f g h i j]
      (11L, "a b c d e x y z w v"),         // shares chunk 1 with doc 10
      (12L, "q r s t u")                    // unique single chunk
    ).toDF("doc_id", "text")
    val m = Dedup.chunkDedupStats(d, "doc_id", "text", k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(10L) == ((2L, 1L)), s"doc 10: ${m(10L)}")
    assert(m(11L) == ((2L, 1L)), s"doc 11: ${m(11L)}")
    assert(m(12L) == ((1L, 0L)), s"doc 12: ${m(12L)}")
  }

  test("chunk strip keeps first occurrence, reassembles untouched docs exactly") {
    val d = Seq(
      (10L, "a b c d e f g h i j"),   // first occurrence of [a b c d e]
      (11L, "a b c d e x y z w v"),   // loses chunk 1 to doc 10
      (12L, "q r s t u")              // untouched → exact round-trip
    ).toDF("doc_id", "text")
    val m = Dedup.chunkDedupStrip(d, "doc_id", "text", k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m(10L) == (("a b c d e f g h i j", 2L, 0L)), m(10L).toString)
    assert(m(11L) == (("x y z w v", 1L, 1L)), m(11L).toString)
    assert(m(12L) == (("q r s t u", 1L, 0L)), m(12L).toString)
  }

  test("chunk dedup stats: partial tail chunk compares exactly") {
    val d = Seq(
      (0L, "a b c d e f g"),  // tail chunk [f g]
      (1L, "z z z z z f g")   // same tail chunk content at same offset
    ).toDF("doc_id", "text")
    val m = Dedup.chunkDedupStats(d, "doc_id", "text", k = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m(0L) == 1L && m(1L) == 1L, s"tail chunk not shared: $m")
  }

  test("edit distance pairs find in-block mutations, skip cross-block") {
    val d = Seq(
      (0L, "the quick brown fox", "en"),
      (1L, "the quick brown fax", "en"),  // 1 substitution from 0
      (2L, "the quick brown fox", "de"),  // same text, different block
      (3L, "entirely unrelated text", "en")
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.editDistancePairs(d, "doc_id", "text",
        blockCol = col("lang"), prefixLen = 48, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((0L, 1L)) == 1, s"pairs: $pairs")
    assert(!pairs.contains((0L, 2L)), "cross-block pair leaked")
    assert(!pairs.contains((0L, 3L)), "distant pair above maxDist kept")
  }

  test("semantic dedup flags within-cluster near-dups, keeps lowest id") {
    val d = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact dup of 0
      (2L, Array(0.999f, 0.04f, 0.0f, 0.0f)), // cosine ~0.999 to 0
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(d, "vec_id", "embedding",
        nClusters = 2, threshold = 0.99)
      .collect().map(x => x.getLong(0) ->
        (x.getBoolean(x.fieldIndex("is_dup")))).toMap
    assert(!r(0L), "survivor flagged as dup")
    assert(r(1L), "exact dup not flagged")
    assert(r(2L), "near dup not flagged")
    assert(!r(3L) && !r(4L), "unrelated vectors flagged")
  }

  test("incremental near-dups: corpus hits win, increment dedups to smaller id") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "completely different content about spark query engines and shuffles here")
    ).toDF("doc_id", "text")
    val increment = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"), // dup of corpus 0
      (11L, "a wholly new increment document with original words and phrasing today"),
      (12L, "a wholly new increment document with original words and phrasing today"), // dup of 11
      (13L, "another novel increment document sharing nothing with anything else written")
    ).toDF("doc_id", "text")
    val dups = Dedup.incrementalNearDups(corpus, increment, "doc_id", "text",
        n = 8, minMatches = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups.get(10L).contains(0L), s"corpus dup missed: $dups")
    assert(dups.get(12L).contains(11L), s"increment-internal dup missed: $dups")
    assert(!dups.contains(11L) && !dups.contains(13L), s"survivor flagged: $dups")
  }

  test("unigram surprisal ranks rare-token docs above common-token docs") {
    val d = Seq(
      (0L, "common common common common common common common common"),
      (1L, "common common common common common common common rareword")
    ).toDF("doc_id", "text")
    val m = TextStats.unigramLogProb(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) > m(0L), s"rare token did not raise surprisal: $m")
    // doc 0 is all one token: avg nll = -ln(15/16) exactly
    assert(math.abs(m(0L) - (-math.log(15.0 / 16))) < 1e-3, m(0L).toString)
  }

  test("source entropy: uniform beats skewed; identical-mix source has zero KL") {
    // src a: 4 distinct tokens uniformly -> H = ln 4; its distribution
    // differs from the corpus mix -> KL > 0.
    // src b/c: the SAME skewed distribution (x x x y); with only b and c
    // the corpus mix equals each source's own, but a shifts it, so pin
    // exact values against a sequential fold instead.
    val d = Seq(
      (0L, "p q r s", "a"), (1L, "x x x y", "b"), (2L, "x x x y", "c")
    ).toDF("doc_id", "text", "source")
    val got = TextStats.sourceEntropy(d, "source", "text")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    // sequential reference over the same counts
    val counts = Map(
      "a" -> Map("p" -> 1L, "q" -> 1L, "r" -> 1L, "s" -> 1L),
      "b" -> Map("x" -> 3L, "y" -> 1L),
      "c" -> Map("x" -> 3L, "y" -> 1L))
    val corpus = counts.values.flatten.groupBy(_._1).map { case (t, kv) => t -> kv.map(_._2).sum }
    val total = corpus.values.sum.toDouble
    for ((src, cs) <- counts) {
      val ts = cs.values.sum.toDouble
      val h = cs.values.map { c => -c / ts * math.log(c / ts) }.sum
      val kl = cs.map { case (t, c) => c / ts * math.log((c / ts) / (corpus(t) / total)) }.sum
      val (nd, nt, gh, gkl) = got(src)
      assert(nd == cs.size && nt == ts.toLong, s"$src counts: $nd/$nt")
      assert(math.abs(gh - h) < 1e-3, s"$src entropy $gh vs $h")
      assert(math.abs(gkl - kl) < 1e-3, s"$src kl $gkl vs $kl")
    }
    assert(got("a")._3 > got("b")._3)      // uniform > skewed entropy
    assert(got("b") == got("c"))           // identical sources identical
    assert(got("a")._4 > 0.0)              // a diverges from the mix
  }

  test("gopher filter names each failed rule; clean docs keep") {
    val d = Seq(
      (0L, "the cat sat on the mat and then the dog sat on the cat while it was raining outside today"), // clean
      (1L, ("word " * 40).trim),                    // dup_words + rep_bigram + low_stopword
      (2L, "too short"),                            // too_short
      (3L, ("a " * 20).trim + " supercalifragilisticexpialidocious")
    ).toDF("doc_id", "text")
    val m = TextStats.gopherFilter(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(r.fieldIndex("fail_reasons")), r.getBoolean(r.fieldIndex("keep")))).toMap
    assert(m(0L)._2, s"clean doc dropped: ${m(0L)}")
    assert(m(1L)._1.contains("dup_words") && m(1L)._1.contains("low_stopword"), m(1L)._1)
    assert(!m(1L)._2)
    assert(m(2L)._1.contains("too_short"))
  }

  test("mixture weights follow count^alpha and sum to 1") {
    val d = (1 to 80).map(i => (i.toLong, if (i <= 64) "big" else "small"))
      .toDF("doc_id", "grp")
    val w = graft.llm.Shards.sourceWeights(d, "grp", alpha = 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // sqrt(64)=8, sqrt(16)=4 → weights 8/12 and 4/12
    assert(w("big")._1 == 64L && w("small")._1 == 16L)
    assert(math.abs(w("big")._2 - 8.0 / 12) < 1e-6, w.toString)
    assert(math.abs(w("big")._2 + w("small")._2 - 1.0) < 1e-5)
  }

  test("weighted sample matches the sequential A-ES fold; heavy doc always in") {
    val docs = (0L until 200L).map(i => (i, if (i == 42L) 100000L else 10L))
      .toDF("doc_id", "n_chars")
    val got = Shards.weightedSample(docs, "doc_id", "n_chars", k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // sequential reference: same md5-derived 32-bit uniform, same race key
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
    }
    val ref = (0L until 200L).map { i =>
      val w = if (i == 42L) 100000L else 10L
      (i, -math.log(u32(i)) / w)
    }.sortBy { case (id, key) => (key, id) }.take(15)
      .map { case (id, key) => (id, math.round(key * 1e6)) }
    assert(got.toSeq == ref, s"got ${got.toSeq}\nref $ref")
    // weight 10,000x everyone else -> the race key is ~10^-4 of the
    // field's; doc 42 must be in the sample
    assert(got.exists(_._1 == 42L))
    // scale pin: selection must be a shuffle-free partial top-k
    val plan = Shards.weightedSample(docs, "doc_id", "n_chars", k = 15)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"weighted sample must not shuffle:\n$plan")
  }

  test("brute-force cosine top-k ranks by true cosine") {
    val top = Similarity.cosineTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 4)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.take(2).map(_._2).toSeq == Seq(1L, 4L)) // closest first
    assert(top.last._2 == 3L) // opposite vector ranks last
  }

  test("lsh buckets are deterministic and identical vectors collide") {
    val b = vecs.union(vecs)
      .select($"vec_id", Similarity.lshBucket($"embedding", 4, 8).as("bucket"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).distinct).toMap
    assert(b.values.forall(_.length == 1), "same vector hashed to different buckets")
  }

  test("lshTopK returns a cosine-ranked subset of same-bucket vectors") {
    val res = Similarity.lshTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 4, 4, 3)
      .collect()
    assert(res.nonEmpty)
    val cosines = res.map(_.getDouble(3)).toSeq
    assert(cosines == cosines.sorted.reverse, "not ranked descending")
  }

  test("simhash pairs: exact dups at hamming 0, unrelated docs absent") {
    val p = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, nBits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(p((0L, 3L)) == 0, s"exact dup pair not at hamming 0: $p")
    assert(!p.keys.exists(k => k._1 == 2L || k._2 == 2L), "unrelated doc paired")
  }

  test("simhash banding is exact: pairs match the brute-force hamming join") {
    // brute force over the wide signatures vs the banded operator
    val sig = Dedup.simhashWide(docs, "doc_id", "text", 32).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sig; (b, sb) <- sig if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", 3, 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, s"banded=$banded brute=$brute")
  }

  test("tfidf ranks doc-distinctive terms above corpus-common ones") {
    val top = TextStats.tfidfTerms(docs, "doc_id", "text", topK = 3)
      .filter($"doc_id" === 2L).collect()
    assert(top.length == 3)
    // 'the' appears in 4 of 5 docs — never distinctive; doc 2's top terms
    // must come from its unique vocabulary
    assert(!top.map(_.getString(2)).contains("the"))
    val scores = top.map(_.getDouble(5)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("int8 quantization round-trips within one scale step; zero vector is safe") {
    val q = Similarity.quantizeInt8(
      vecs.union(Seq((9L, Array(0f, 0f, 0f, 0f), 0)).toDF("vec_id", "embedding", "label")),
      "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]), r.getString(2))).toList
    val byId = q.map(x => x._1 -> x).toMap
    // vec 0 = [1,0,0,0]: scale 1/127, q = [127,0,0,0]
    assert(byId(0L)._3 == "127,0,0,0")
    assert(math.abs(byId(0L)._2.get - 1.0 / 127.0) < 1e-9)
    // zero vector: NULL scale, all-zero codes, no divide-by-zero error
    assert(byId(9L)._2.isEmpty && byId(9L)._3 == "0,0,0,0")
    // max-abs element always quantizes to ±127
    assert(byId(3L)._3.split(",").head == "-127")
  }

  test("group centroids match hand-computed per-label means, any partitioning") {
    val out = Similarity.groupCentroids(vecs, "label", "embedding").collect()
      .map(r => r.getInt(0) -> (r.getSeq[Double](1).toList, r.getLong(2))).toMap
    // label 0: mean of [1,0,0,0],[0.9,0.1,0,0],[0,1,0,0]
    val m0 = out(0)._1
    assert(out(0)._2 == 3L)
    assert(m0.zip(List((1.0 + 0.9f.toDouble) / 3, (0.1f.toDouble + 1.0) / 3, 0.0, 0.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // label 1: mean of [-1,0,0,0],[0.8,0.2,0,0]
    val m1 = out(1)._1
    assert(out(1)._2 == 2L)
    assert(math.abs(m1.head - (-1.0 + 0.8f.toDouble) / 2) < 1e-9 &&
      math.abs(m1(1) - 0.2f.toDouble / 2) < 1e-9)
    // decimal-sum path: identical output regardless of partition layout
    val re = Similarity.groupCentroids(vecs.repartition(7), "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toList)).toMap
    assert(out.keySet.forall(k => re(k) == out(k)._1))
  }

  test("sign random projection matches sequential reference and is linear") {
    def ref(v: Array[Double], dim: Int, outDim: Int): Array[Double] =
      (0 until outDim).map { j =>
        (1 to dim).map { i =>
          val h = i.toLong * 7919L + j.toLong * 104729L + 53L
          val s = if ((h * h / 1024L) % 2L == 0L) 1.0 else -1.0
          s * math.round(v(i - 1) * 1e6).toDouble
        }.sum / 1e6
      }.toArray
    val out = Similarity.signRandomProjection(vecs, "vec_id", "embedding", 4, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val in = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    for ((id, v) <- in)
      assert(out(id).sameElements(ref(v, 4, 3)), s"vec $id: ${out(id).toList} vs ${ref(v, 4, 3).toList}")
    // linearity in micro-space: R(a) - R(b) == R(a_micro - b_micro) exactly
    // (rounding itself is not linear, so the diff is taken AFTER micro-rounding)
    val a = in(0L); val b = in(1L)
    val diffMicro = a.zip(b).map { case (x, y) =>
      (math.round(x * 1e6) - math.round(y * 1e6)) / 1e6 }
    val lhs = out(0L).zip(out(1L)).map { case (x, y) => math.round((x - y) * 1e6) }
    val rhs = ref(diffMicro, 4, 3).map(x => math.round(x * 1e6))
    assert(lhs.sameElements(rhs), s"${lhs.toList} vs ${rhs.toList}")
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "did change"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val m = Dedup.snapshotDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), s"got $m")
  }

  test("MMR diverse top-k trades redundant high scorers for novel picks") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 1.0, 0),   // seed: top score
      (2L, Array(0.99f, 0.14f), 0.9, 0), // near-copy of 1, 2nd-best score
      (3L, Array(0.0f, 1.0f), 0.5, 0)    // orthogonal, lower score
    ).toDF("vec_id", "embedding", "score", "label")
    // λ=0.5: second pick is the orthogonal doc (0.25 beats 0.45−0.5·sim≈−0.04)
    val half = Similarity.diverseTopKPerGroup(d, "label", "vec_id", "embedding",
        "score", k = 2, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(half.toList == List((1, 1L), (2, 3L)), s"got ${half.toList}")
    // λ=1: pure relevance — redundancy ignored, near-copy wins
    val pure = Similarity.diverseTopKPerGroup(d, "label", "vec_id", "embedding",
        "score", k = 2, lambda = 1.0)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(pure.toList == List((1, 1L), (2, 2L)), s"got ${pure.toList}")
    // exact ties (identical rows) break to the lowest id
    val ties = Seq((7L, Array(1.0f, 0.0f), 1.0, 0), (5L, Array(1.0f, 0.0f), 1.0, 0))
      .toDF("vec_id", "embedding", "score", "label")
    val t1 = Similarity.diverseTopKPerGroup(ties, "label", "vec_id", "embedding",
      "score", k = 1).collect().map(_.getLong(2))
    assert(t1.toList == List(5L))
  }

  test("soft sampling: clamp edges are absolute, mid-ramp keeps ~rate, deterministic") {
    import graft.llm.Shards
    val n = 4000
    val df = spark.range(n).select(col("id"), lit(0.15).as("s")) // rate = 0.5
    val kept = Shards.softSampleByScore(df, "id", col("s"), 0.0, 0.3)
    assert(math.abs(kept.count() - n / 2.0) < n * 0.05)
    // same coin → identical keep set on re-evaluation
    assert(Shards.softSampleByScore(df, "id", col("s"), 0.0, 0.3)
      .select("id").collect().map(_.getLong(0)).toSet ==
      kept.select("id").collect().map(_.getLong(0)).toSet)
    // at/above hi → always kept (clamped to 1); at/below lo → always dropped
    assert(Shards.softSampleByScore(df.withColumn("s", lit(0.7)), "id",
      col("s"), 0.0, 0.3).count() == n)
    assert(Shards.softSampleByScore(df.withColumn("s", lit(-0.1)), "id",
      col("s"), 0.0, 0.3).count() == 0)
  }

  test("corpus prep drops each stage's casualties and shards the survivors") {
    val good = "the quick brown fox jumps over a lazy dog and then it runs to the river bank again"
    val contaminatedTxt = "this is the exact benchmark sentence that must be caught by decontamination of the corpus here"
    val d = Seq(
      (1L, good, "srcA"),                       // survives everything
      (2L, good, "srcA"),                       // exact dup of 1 → dropped (keep-first)
      (3L, "short text", "srcA"),               // gopher too_short → dropped
      (4L, contaminatedTxt, "srcA"),            // shares ≥6 shingles with bench → dropped
      (5L, "a completely original document with the quick pace and many fine words in it for the test", "srcA")
    ).toDF("doc_id", "text", "source")
    val bench = Seq((100L, contaminatedTxt)).toDF("doc_id", "text")
    val out = CorpusPrep.prepare(d, bench, "doc_id", "text", "source",
        rates = Map.empty, defaultRate = 1.0, minOverlap = 6, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.map(_._1).sorted.toList == List(1L, 5L), s"got ${out.toList}")
    assert(out.forall(r => r._3 >= 0 && r._3 < 4))
    // mixture at rate 0 drops everything deterministically
    val none = CorpusPrep.prepare(d, bench, "doc_id", "text", "source",
      rates = Map("srcA" -> 0.0), defaultRate = 1.0, minOverlap = 6, nShards = 4)
    assert(none.count() == 0)
  }

  test("standardize: z-scores match hand moments; constant dim is null; output is (0,1)") {
    // dim 0: values 1,3 → mean 2, pop-std 1; dim 1: constant → null z
    val d = Seq((0L, Array(1.0f, 5.0f)), (1L, Array(3.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.standardizeEmbeddings(d, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Double](1).toList).toMap
    assert(z(0L) == List[java.lang.Double](-1.0, null), s"got ${z(0L)}")
    assert(z(1L) == List[java.lang.Double](1.0, null), s"got ${z(1L)}")
    // standardized fixture column has mean ~0 and pop-variance ~1
    val zs = Similarity.standardizeEmbeddings(vecs, "vec_id", "embedding")
      .collect().flatMap(_.getSeq[java.lang.Double](1).headOption.map(_.toDouble))
    val mean = zs.sum / zs.length
    val varr = zs.map(x => x * x).sum / zs.length - mean * mean
    assert(math.abs(mean) < 1e-6 && math.abs(varr - 1.0) < 1e-4,
      s"mean=$mean var=$varr")
  }

  test("centroid assignment picks nearest prototype; ties break low; null vec is null") {
    val cents = Seq((0, Array(1.0f, 0.0f, 0.0f, 0.0f), 1L),
      (1, Array(0.0f, 1.0f, 0.0f, 0.0f), 1L)).toDF("grp", "centroid", "n_vectors")
    val pts = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f, 0.0f)),          // nearest grp 0
      (11L, Array(0.1f, 0.9f, 0.0f, 0.0f)),          // nearest grp 1
      (12L, Array(0.5f, 0.5f, 0.0f, 0.0f)),          // equidistant → grp 0
      (13L, null.asInstanceOf[Array[Float]])         // null vec → null out
    ).toDF("vec_id", "embedding")
    val m = Similarity.assignToCentroids(pts, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), Option(r.get(2)))).toMap
    assert(m(10L)._1.contains(0L) && m(11L)._1.contains(1L))
    assert(m(12L)._1.contains(0L), s"tie must break to lowest grp: ${m(12L)}")
    assert(m(13L)._1.isEmpty && m(13L)._2.isEmpty, "null vector must yield null")
    // distance value itself: |(0.9,0.1)-(1,0)|² = 0.01+0.01 = 0.02
    assert(math.abs(m(10L)._2.get.asInstanceOf[Double] - 0.02) < 1e-4)
  }

  test("group diversity matches brute-force mean pairwise cosine; singleton is null") {
    val d = vecs.union(Seq((9L, Array(0f, 0f, 0f, 1f), 7)).toDF("vec_id", "embedding", "label"))
    val out = Similarity.groupDiversity(d, "label", "embedding").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // brute force per label over unit-normalized vectors
    val byLabel = d.collect().map(r => (r.getInt(2), r.getSeq[Float](1).map(_.toDouble).toArray))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for ((lbl, vs) <- byLabel) {
      val us = vs.map { v =>
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      val n = us.length
      assert(out(lbl)._1 == n.toLong)
      if (n == 1) assert(out(lbl)._2.isEmpty, s"singleton label $lbl must be null")
      else {
        val pairs = for (i <- 0 until n; j <- i + 1 until n)
          yield us(i).zip(us(j)).map { case (a, b) => a * b }.sum
        val brute = pairs.sum / pairs.length
        assert(math.abs(out(lbl)._2.get - brute) < 1e-6,
          s"label $lbl: got ${out(lbl)._2.get}, brute $brute")
      }
    }
  }

  test("knn classify takes the majority label; vote ties break to lowest label") {
    // corpus: 3 'A'(0) vectors near x-axis, 2 'B'(1) near y-axis
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.95f, 0.05f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, Array(0.8f, 0.2f)), (101L, Array(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val m3 = Similarity.knnClassify(q, corpus, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(m3(100L) == ((0, 3L)), s"x-axis query: ${m3(100L)}")  // all 3 nearest are A
    assert(m3(101L) == ((1, 2L)), s"y-axis query: ${m3(101L)}")  // 2 B + 1 A
    // k=4 for the y-axis query: 2 B + 2 A → tie → lowest label (0) wins
    val m4 = Similarity.knnClassify(q, corpus, "vec_id", "embedding", "label", k = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(m4(101L)._1 == 0 && m4(101L)._2 == 2L, s"tie must break low: ${m4(101L)}")
  }

  test("multi-probe LSH finds adjacent-bucket neighbors single-probe misses") {
    // spread pseudo-random corpus (hash-based components, no near-dup
    // clusters); witnesses = (query, brute-force neighbor) pairs whose
    // buckets differ in EXACTLY one bit — single-probe must miss them,
    // multi-probe must find them
    val n = 200
    val dim = 8
    val nBits = 6
    val corpus = spark.range(n).select($"id".as("vec_id"),
      array((1 to dim).map(j =>
        ((pmod(xxhash64($"id", lit(j)), lit(1000L)) - 500L) / 100.0).cast("float")): _*)
        .as("embedding"))
    val qs = corpus.filter($"vec_id" < 20)
    val bucket = corpus
      .select($"vec_id", Similarity.lshBucket($"embedding", dim, nBits).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = Similarity.cosineTopK(qs, corpus, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val witnesses = brute.filter { case (q, nb) =>
      java.lang.Long.bitCount(bucket(q) ^ bucket(nb)) == 1
    }.toSet
    assert(witnesses.nonEmpty, "no adjacent-bucket witness pairs in this corpus")
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // k = corpus size so rank truncation can't hide a found neighbor
    val single = hits(Similarity.lshTopK(qs, corpus, "vec_id", "embedding", dim, nBits, n))
    val multi = hits(Similarity.lshTopKMultiProbe(qs, corpus, "vec_id", "embedding", dim, nBits, n))
    assert(witnesses.forall(w => !single.contains(w)),
      s"single-probe claims an adjacent-bucket pair: ${witnesses & single}")
    assert(witnesses.forall(multi.contains),
      s"multi-probe missed witnesses: ${witnesses -- multi}")
    // no duplicate (query, neighbor) pairs from the probe explosion
    val m = Similarity.lshTopKMultiProbe(qs, corpus, "vec_id", "embedding", dim, nBits, n)
      .groupBy($"query_id", $"neighbor_id").count().filter($"count" > 1).count()
    assert(m == 0, "duplicate pairs from multi-probe join")
  }

  test("connected groups collapse chained near-dup pairs transitively") {
    // chain 1-2, 2-3 plus isolated pair 7-9: components {1,2,3} and {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val g = Dedup.connectedGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) == 1L && g(2L) == 1L && g(3L) == 1L)
    assert(g(7L) == 7L && g(9L) == 7L)
  }

  test("ivf top-k finds the near neighbor through centroid probing") {
    val top = Similarity.ivfTopK(vecs.filter($"vec_id" === 0), vecs,
      "vec_id", "embedding", k = 2, nCells = 2, nProbe = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.nonEmpty && top.head._2 == 1L, s"got ${top.toSeq}")
  }

  test("ivf pre-fit centroids: steady-state path matches the convenience form") {
    val centroids = Similarity.fitIvfCentroids(vecs, "vec_id", "embedding",
      nCells = 2)
    assert(centroids.length == 2 && centroids.forall(_.length == 4))
    val q = vecs.filter($"vec_id" === 0)
    val viaPrefit = Similarity.ivfTopKWith(q, vecs, "vec_id", "embedding",
      k = 2, centroids, nProbe = 2).collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    val viaFit = Similarity.ivfTopK(q, vecs, "vec_id", "embedding",
      k = 2, nCells = 2, nProbe = 2).collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(viaPrefit == viaFit, s"prefit $viaPrefit vs fit $viaFit")
  }

  test("product quantization: deterministic codes, ADC recall vs exact cosine") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val books = Similarity.fitPqCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)
    assert(books.length == 8 && books.forall(_.length == 16))
    assert(books(0)(0).length == 8) // 64-dim / 8 subspaces
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    // codes are partition-layout-independent (pure broadcast map)
    val c1 = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    val c2 = Similarity.pqEncode(emb.repartition(7), "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    assert(c1 == c2, "codes changed with partition layout")
    assert(c1.values.flatten.forall(c => c >= 0 && c < 16))
    // ADC ranking approximates the exact cosine ranking (unit vectors:
    // squared L2 order == cosine order). Deterministic seeds pin this.
    val qs = emb.filter($"vec_id" < 10)
    val adcTop = Similarity.pqTopK(qs, codes, "vec_id", "embedding", 10, books)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactTop = Similarity.cosineTopK(qs, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exactTop.map { case (q, ex) =>
      (adcTop.getOrElse(q, Set.empty) & ex).size.toDouble / ex.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.25,
      f"ADC recall@10 vs exact collapsed: $meanRecall%.2f")
  }

  test("ivf-pq: probe-all equals pure PQ exactly; pruned probe keeps recall") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val cents = Similarity.fitIvfCentroids(emb, "vec_id", "embedding", nCells = 4)
    val books = Similarity.fitPqCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)
    val qs = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nProbe = nCells: candidate set is the whole corpus, so the result
    // must EQUAL pqTopK over the same codes — the composition adds
    // pruning, never different scoring
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
    val full = pairs(Similarity.ivfPqTopK(qs, emb, "vec_id", "embedding",
      k = 10, cents, books, nProbe = 4))
    val pure = pairs(Similarity.pqTopK(qs, codes, "vec_id", "embedding", 10, books))
    assert(full == pure, s"probe-all IVF-PQ diverged from PQ: ${(full -- pure).take(3)}")
    // pruned probe: top-k per query still k rows, recall doesn't collapse
    val pruned = Similarity.ivfPqTopK(qs, emb, "vec_id", "embedding",
      k = 10, cents, books, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val overlap = pure.groupBy(_._1).map { case (q, rows) =>
      val ids = rows.map(_._3)
      (pruned.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }
    assert(overlap.sum / overlap.size >= 0.4,
      f"pruned-probe overlap with probe-all collapsed: ${overlap.sum / overlap.size}%.2f")
  }

  test("ivf-pq persisted index: write → reload → query equals the direct path") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val qs = emb.filter($"vec_id" < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    val built = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 16)
    Similarity.writeIvfPqIndex(built, dir)
    val reloaded = Similarity.readIvfPqIndex(spark, dir)
    // sidecars survive the round-trip bit-exactly
    assert(reloaded.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq)
    assert(reloaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      built.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // and the reloaded index answers queries identically to the
    // fit-and-encode-inline path with the same quantizers
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val direct = pairs(Similarity.ivfPqTopK(qs, emb, "vec_id", "embedding",
      k = 10, built.centroids, built.codebooks, nProbe = 2))
    val served = pairs(Similarity.ivfPqTopKIndexed(qs, reloaded, "vec_id",
      "embedding", k = 10, nProbe = 2))
    assert(served == direct,
      s"reloaded-index results diverged: ${(served -- direct).take(3)} / ${(direct -- served).take(3)}")
    // the probe prunes at the FILE level: cell is a partition column
    assert(new java.io.File(s"$dir/codes").listFiles().exists(_.getName.startsWith("cell=")))
  }

  test("ivf-pq incremental append: frozen quantizers, appended codes == one-shot encode") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val first = emb.filter($"vec_id" < 250)
    val rest = emb.filter($"vec_id" >= 250)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app_").toString
    // build + persist on the FIRST batch only (quantizers fit there)
    val built = Similarity.buildIvfPqIndex(first, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 16)
    Similarity.writeIvfPqIndex(built, dir)
    // append the remainder under the frozen quantizers
    val grown = Similarity.appendToIvfPqIndex(dir, rest, "vec_id", "embedding")
    assert(grown.codes.count() == emb.count(), "appended index must cover the full corpus")
    // crash-replay safety: re-appending the SAME batch inserts nothing
    // (already-indexed ids are anti-joined away)
    val replayed = Similarity.appendToIvfPqIndex(dir, rest, "vec_id", "embedding")
    assert(replayed.codes.count() == emb.count(),
      "replaying an append must not duplicate codes")
    // quantizers untouched by the append
    assert(grown.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq)
    // the grown index answers EXACTLY like an index whose codes were
    // one-shot encoded with the same quantizers over the full corpus —
    // the frozen-quantizer contract
    val qs = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val direct = pairs(Similarity.ivfPqTopK(qs, emb, "vec_id", "embedding",
      k = 10, built.centroids, built.codebooks, nProbe = 2))
    val served = pairs(Similarity.ivfPqTopKIndexed(qs, grown, "vec_id",
      "embedding", k = 10, nProbe = 2))
    assert(served == direct,
      s"grown-index results diverged: ${(served -- direct).take(3)} / ${(direct -- served).take(3)}")
  }

  test("ivf-pq reload rejects mismatched sidecars by name, not with a later ADC error") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_bad_").toString
    val built = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 16)
    Similarity.writeIvfPqIndex(built, dir)
    // corrupt the codebooks sidecar: drop a subspace so m no longer
    // matches the codes table / centroid dim — as if a different
    // build's sidecar were copied in
    val trimmed = spark.read.parquet(s"$dir/codebooks").filter($"subspace" < 4)
      .collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(trimmed.toIndexedSeq),
      spark.read.parquet(s"$dir/codebooks").schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    val ex = intercept[IllegalArgumentException] {
      Similarity.readIvfPqIndex(spark, dir)
    }
    assert(ex.getMessage.contains("different builds"), ex.getMessage)
  }

  test("LocalIvfPq.build enforces its driver byte budget before collecting") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val built = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 16)
    // a budget below the corpus estimate refuses loudly, naming remedies
    val ex = intercept[IllegalArgumentException] {
      Similarity.LocalIvfPq.build(built, emb, "vec_id", "embedding",
        maxBytes = 1024L)
    }
    assert(ex.getMessage.contains("budget") &&
      ex.getMessage.contains("ivfPqTopKReranked"), ex.getMessage)
    // within budget: builds and answers (parity with the distributed
    // path is pinned by HttpApiSpec's serving tests)
    val eng = Similarity.LocalIvfPq.build(built, emb, "vec_id", "embedding")
    assert(eng.size == emb.count())
  }

  test("LocalIvfPq.build's default budget is half the driver heap") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val built = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 4, m = 8, kCodes = 16)
    // one row past the estimate that fills half the heap: refused on the
    // row count alone, before a vector is generated or collected
    val perRow = built.centroids.head.length.toLong * 12L + 8L * 4L + 48L
    val budget = Runtime.getRuntime.maxMemory / 2
    val corpus = spark.range(budget / perRow + 1)
      .select($"id".as("vec_id"), array(lit(0.0)).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.LocalIvfPq.build(built, corpus, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains(f"$budget%,d-byte budget"), ex.getMessage)
  }

  test("LocalIvfPq.build refuses an index with no centroids") {
    val empty = Similarity.IvfPqIndex(
      spark.emptyDataFrame, Array.empty[Array[Double]], Array.empty[Array[Array[Double]]])
    val ex = intercept[IllegalArgumentException] {
      Similarity.LocalIvfPq.build(empty, Tables.load(spark, sf0001, "embeddings"),
        "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("no centroids"), ex.getMessage)
  }

  test("cross-corpus near-dups equal the within-corpus pairs restricted to probes") {
    import graft.llm.Dedup
    val docs = Tables.load(spark, sf0001, "documents")
    val probes = docs.filter($"doc_id" % 7 === 0)
    val cross = Dedup.crossCorpusNearDups(docs, probes, "doc_id", "text", n = 8, minMatches = 6)
      .filter($"probe_id" =!= $"corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // within-corpus pairs emit each pair once (a < b); the cross screen
    // emits (probe, other) — restrict pairs to those touching a probe
    // and orient them probe-first (both directions when both are probes)
    val probeIds = probes.select($"doc_id").as[Long].collect().toSet
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", n = 8, minMatches = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = pairs.flatMap { case (a, b, m) =>
      Seq(a -> b, b -> a).collect {
        case (p, c) if probeIds.contains(p) => (p, c, m)
      }
    }.toSet
    assert(cross == expected,
      s"missing: ${(expected -- cross).take(3)}; extra: ${(cross -- expected).take(3)}")
  }

  test("cross-corpus screen broadcasts the probe signatures (corpus never shuffles for the join)") {
    import graft.llm.Dedup
    val docs = Tables.load(spark, sf0001, "documents")
    val probes = docs.filter($"doc_id" % 7 === 0)
    val plan = Dedup.crossCorpusNearDups(docs, probes, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$plan")
  }

  test("chunker: hand-traced windows, tail kept, overlap = window - stride") {
    import graft.llm.Chunker
    val docs = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, "p q r"),
      (4L, ""), (5L, "   ")).toDF("doc_id", "text")
    val got = Chunker.chunkByTokens(docs, "doc_id", "text", window = 3, stride = 2)
      .orderBy($"doc_id", $"chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got.toSeq == Seq(
      // n=7: starts stop at 4 — the first window reaching the end;
      // no redundant "g" tail chunk at start 6
      (1L, 0, 0, 3, "a b c"), (1L, 1, 2, 3, "c d e"), (1L, 2, 4, 3, "e f g"),
      (2L, 0, 0, 1, "x"),
      (3L, 0, 0, 3, "p q r")), got.mkString("; ")) // docs 4/5: zero tokens → no chunks
    // n=8: the final chunk is short but the end is covered exactly once
    val eight = Chunker.chunkByTokens(
      Seq((9L, "a b c d e f g h")).toDF("doc_id", "text"), "doc_id", "text", 3, 2)
      .orderBy($"chunk_id")
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(eight.toSeq == Seq((0, 0, 3, "a b c"), (1, 2, 3, "c d e"),
      (2, 4, 3, "e f g"), (3, 6, 2, "g h")), eight.mkString("; "))
  }

  test("chunker: every token position is covered and the pass never shuffles") {
    import graft.llm.Chunker
    val docs = Tables.load(spark, sf0001, "documents")
    val window = 32; val stride = 24
    val chunks = Chunker.chunkByTokens(docs, "doc_id", "text", window, stride)
    // coverage: per doc, chunk spans [start, start+n) tile 0..n_tokens
    val bad = chunks.groupBy($"doc_id")
      .agg(max($"chunk_start" + $"n_chunk_tokens").as("covered_to"),
        count(lit(1)).as("n_chunks"))
      .join(docs.select($"doc_id",
        size(split(trim($"text"), "\\s+")).as("n_tokens")), "doc_id")
      .filter($"covered_to" =!= $"n_tokens" ||
        $"n_chunks" =!= (ceil(greatest($"n_tokens" - window, lit(0)) /
          lit(stride.toDouble)) + 1).cast("long"))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
    // the whole derivation is a scan-side projection — zero Exchange
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("residual PQ: reconstruction error drops vs raw-vector codebooks") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cents = Similarity.fitIvfCentroids(emb, "vec_id", "embedding", nCells = 8)
    val rawBooks = Similarity.fitPqCodebooks(emb, "vec_id", "embedding", m = 8, k = 16)
    val resBooks = Similarity.fitPqCodebooksResidual(emb, "vec_id", "embedding",
      cents, m = 8, k = 16)
    val rawCodes = Similarity.pqEncode(emb, "vec_id", "embedding", rawBooks)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val resCodes = Similarity.pqEncodeResidual(emb, "vec_id", "embedding",
        cents, resBooks)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
    val sub = 8
    def mse(recon: Long => Array[Double]): Double =
      vecs.map { case (id, v) =>
        val r = recon(id)
        v.indices.map(j => (v(j) - r(j)) * (v(j) - r(j))).sum
      }.sum / vecs.size
    val rawMse = mse { id =>
      val code = rawCodes(id)
      Array.tabulate(64)(j => rawBooks(j / sub)(code(j / sub))(j % sub))
    }
    val resMse = mse { id =>
      val (cell, code) = resCodes(id)
      Array.tabulate(64)(j =>
        cents(cell)(j) + resBooks(j / sub)(code(j / sub))(j % sub))
    }
    assert(resMse < rawMse,
      f"residual encoding must reduce reconstruction error: raw=$rawMse%.4f res=$resMse%.4f")
    assert(resMse > 0.0) // sanity: not a trivial exact-copy artifact
  }

  test("exact-substring strip: any-alignment repeats stripped, first kept, clean docs intact") {
    val span = "one two three four five six" // 6-token repeated span
    val d = Seq(
      (1L, s"intro words here $span tail a"),      // first owner (smallest doc)
      (2L, s"$span completely different ending"),  // repeat at offset 0
      (3L, s"x y z w $span"),                      // repeat at another alignment
      (4L, "untouched document with enough tokens to emit grams fine")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrStrip(d, "doc_id", "text", minLen = 6)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 keeps everything (it is the first occurrence)
    assert(out(1L)._1 == s"intro words here $span tail a" && out(1L)._3 == 0L)
    // docs 2 and 3 lose exactly the span's 6 tokens
    assert(out(2L)._1 == "completely different ending", out(2L)._1)
    assert(out(2L)._3 == 6L)
    assert(out(3L)._1 == "x y z w" && out(3L)._3 == 6L)
    // unrelated doc round-trips
    assert(out(4L)._1 == "untouched document with enough tokens to emit grams fine")
    assert(out(4L)._3 == 0L)
  }

  test("compression ratio: repetitive text compresses below diverse text; empty is null") {
    val d = Seq(
      (1L, Array.fill(40)("spam").mkString(" ")),             // pure repetition
      (2L, "each word here differs wildly quartz jump vexed " +
        "blitz nymph gyrospheric ontology marzipan quixotic"), // diverse
      (3L, "")
    ).toDF("doc_id", "text")
    val m = d.select($"doc_id", TextStats.compressionRatio($"text").as("r"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(m(3L).isEmpty, "empty text must be NULL")
    assert(m(1L).get < 0.2, s"repetition should compress hard: ${m(1L)}")
    assert(m(1L).get < m(2L).get, s"ordering violated: $m")
    // deterministic across partition layouts
    val m2 = d.repartition(5)
      .select($"doc_id", TextStats.compressionRatio($"text").as("r"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(m == m2)
  }

  test("hashOrderedSample: exact n, all-partition draw, layout-independent") {
    // 1,000 ids range-partitioned into 8 ordered partitions: limit(n)
    // would drain partition 0 first and return only ids < 125; the
    // hash-ordered sample must draw across the whole range.
    val df = spark.range(1000).toDF("doc_id")
      .repartitionByRange(8, col("doc_id"))
    val s = Similarity.hashOrderedSample(df, "doc_id", 100)
    val ids = s.collect().map(_.getLong(0)).toSet
    assert(ids.size == 100, s"expected exactly 100 rows, got ${ids.size}")
    val octants = ids.map(_ / 125).size
    assert(octants == 8, s"sample drawn from only $octants of 8 range octants")
    // deterministic across a different partition layout
    val ids2 = Similarity.hashOrderedSample(df.repartition(3), "doc_id", 100)
      .collect().map(_.getLong(0)).toSet
    assert(ids2 == ids, "sample changed with partition layout")
  }

  test("text stats: quality bounded, fingerprint whitespace-invariant") {
    val st = TextStats.withStats(docs, "text")
    assert(st.filter($"quality_score" < 0 || $"quality_score" > 1).count() == 0)
    val fp = Seq(Tuple1("a  b\tc"), Tuple1("a b c")).toDF("text")
      .select(TextStats.fingerprint($"text")).distinct().count()
    assert(fp == 1, "fingerprint not normalization-invariant")
  }

  test("langid heuristic picks marker languages") {
    val pred = Seq(Tuple1("the cat sat"), Tuple1("le chat noir"), Tuple1("der hund lief"))
      .toDF("text").select(TextStats.langIdHeuristic($"text")).collect().map(_.getString(0))
    assert(pred.toSeq == Seq("en", "fr", "de"))
  }

  test("winnow fingerprint: shared long substrings share hashes, edits keep overlap") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "INTRO the quick brown fox jumps over the lazy dog OUTRO"), // contains doc 1's core
      (3L, "zzzz completely unrelated material qqqq xxxx yyyy wwww")
    ).toDF("doc_id", "text")
    val h = TextStats.winnowHashes(d, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    // winnowing guarantee: any shared substring of length >= k+w-1 (8)
    // contributes at least one common selected hash
    assert((h(1L) & h(2L)).nonEmpty, "shared passage produced no common hash")
    assert((h(1L) & h(3L)).isEmpty, "unrelated docs share fingerprint hashes")
    // whitespace normalization: digest invariant under space collapsing
    val fp = TextStats.winnowFingerprint(Seq(
      (1L, "a b  c   d e f g h i j"), (2L, "a b c d e f g h i j"))
      .toDF("doc_id", "text"), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fp(1L) == fp(2L), "digest not whitespace-invariant")
  }

  test("stopword ratio separates function-word text from keyword spam") {
    val r = Seq((1L, "the cat is on the mat"), (2L, "buy cheap widgets online now"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextStats.stopwordRatio($"text").as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.666667) // the, is, on, the = 4 of 6 tokens
    assert(r(2L) == 0.0)
  }

  test("pii scan counts and redacts emails and phone numbers") {
    val d = Seq(
      (1L, "contact alice@example.com or bob.smith@mail.co today"),
      (2L, "call 555-123-4567 or 555 987 6543 now"),
      (3L, "clean text with no pii at all")
    ).toDF("doc_id", "text")
    val out = TextStats.piiScan(d, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"), r.getAs[String]("redacted"))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 0)
    assert(out(1L)._3 == "contact [EMAIL] or [EMAIL] today")
    assert(out(2L)._1 == 0 && out(2L)._2 == 2)
    assert(out(2L)._3 == "call [PHONE] or [PHONE] now")
    assert(out(3L) == ((0, 0, "clean text with no pii at all")))
  }

  test("contamination flags docs sharing n-grams with the benchmark set") {
    val benchmark = Seq(
      (100L, "the capital of france is paris and the capital of italy is rome"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "trivia dump the capital of france is paris and the capital of italy is rome end"),
      (2L, "a completely original essay about distributed query execution engines"),
      (3L, "the capital of france gets mentioned once only here")
    ).toDF("doc_id", "text")
    val f = Dedup.contaminationFlags(corpus, benchmark, "doc_id", "text", minOverlap = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated"))).toMap
    assert(f(1L)._2, s"benchmark-quoting doc not flagged: $f")
    assert(!f(2L)._2 && f(2L)._1 == 0, "clean doc flagged")
    assert(!f(3L)._2 && f(3L)._1 > 0, "partial overlap should count hits but stay unflagged")
  }

  test("bloom decontamination is exact: identical to the broadcast-join form") {
    val corpus = Tables.load(spark, sf0001, "documents")
    val bench = corpus.filter($"doc_id" % 11 === 0)
    val exact = Dedup.contaminationFlags(corpus, bench, "doc_id", "text", minOverlap = 4)
      .select("doc_id", "n_shingles", "n_hits", "contaminated")
      .orderBy("doc_id").collect()
    val bloomed = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text", minOverlap = 4)
      .select("doc_id", "n_shingles", "n_hits", "contaminated")
      .orderBy("doc_id").collect()
    assert(bloomed.sameElements(exact),
      "bloom prefilter changed the result — false negatives or unremoved false positives")
  }

  test("bloom probe: no false negatives, plausible false-positive rate") {
    import graft.expr.Bloom
    val members = spark.range(0, 1000).select(concat(lit("in-"), $"id").as("k"))
    val bloom = Bloom.build(members, "k", expectedItems = 1000, fpp = 0.01)
    assert(members.filter(!Bloom.mightContain(bloom, $"k")).count() == 0,
      "bloom returned a false negative")
    val outside = spark.range(0, 10000).select(concat(lit("out-"), $"id").as("k"))
    val fp = outside.filter(Bloom.mightContain(bloom, $"k")).count()
    assert(fp < 300, s"false-positive rate way above build fpp: $fp / 10000")
  }

  test("heavy hitters: exact counts, frequency-then-token order") {
    val hh = TextStats.heavyHitters(docs, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.head._1 == "the", s"most frequent token wrong: ${hh.toSeq}")
    val counts = hh.map(_._2)
    assert(counts.sorted.reverse.sameElements(counts), "not frequency-ordered")
  }

  test("count-min token sketch never underestimates; bound holds on the head") {
    val corpus = Tables.load(spark, sf0001, "documents")
    val exact = TextStats.heavyHitters(corpus, "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val sketch = TextStats.tokenSketch(corpus, "text", eps = 0.001)
    val total = sketch.totalCount()
    for ((tok, n) <- exact) {
      val est = sketch.estimateCount(tok)
      assert(est >= n, s"CMS underestimated '$tok': $est < $n")
      assert(est <= n + (0.001 * total).toLong + 1,
        s"CMS estimate for '$tok' above the eps*N bound: $est vs $n (N=$total)")
    }
  }

  test("embedding dedup flags later near-identical vectors, keeps the first") {
    val vecs = Seq(
      (0L, "a", Array(1.0f, 0.0f, 0.0f)),
      (1L, "a", Array(0.99f, 0.01f, 0.0f)), // near-dup of 0
      (2L, "a", Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (3L, "b", Array(1.0f, 0.0f, 0.0f))    // same direction, other block
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.embeddingDedupWithin(vecs, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (Option(r.getAs[Any]("dup_of")), r.getAs[Boolean]("is_dup"))).toMap
    assert(out(0L) == (None, false), "keeper flagged")
    assert(out(1L) == (Some(0L), true), s"near-dup not flagged: $out")
    assert(out(2L) == (None, false), "orthogonal vector flagged")
    assert(out(3L) == (None, false), "blocking key ignored — cross-block pair matched")
  }

  test("semantic dedup: clusters then dedups within each cluster only") {
    // two well-separated directions; near-dups exist inside each
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.995f, 0.005f, 0.0f)),  // near-dup of 0 (same cluster)
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.005f, 0.995f, 0.0f)),  // near-dup of 2 (other cluster)
      (4L, Array(0.0f, 0.0f, 1.0f))       // unique direction
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        nClusters = 2, threshold = 0.97)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (Option(r.getAs[Any]("dup_of")), r.getAs[Boolean]("is_dup"))).toMap
    assert(out(0L)._2 == false && out(2L)._2 == false, "keepers flagged")
    assert(out(1L) == (Some(0L), true), s"in-cluster near-dup of 0 missed: $out")
    assert(out(3L) == (Some(2L), true), s"in-cluster near-dup of 2 missed: $out")
    assert(out(4L)._2 == false, "unique vector flagged")
    // output keeps every input row and exposes the cluster assignment
    assert(out.size == 5)
    val cols = Similarity.semanticDedup(vecs, "vec_id", "embedding", nClusters = 2).columns
    assert(cols.contains("cluster") && !cols.contains("__features"), cols.mkString(","))
  }

  test("shard writer: deterministic assignment, bounded files, ordered rows") {
    import graft.llm.Shards
    val docs01 = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards_").toString + "/out"
    Shards.write(docs01, dir, "doc_id", nShards = 8, maxRecordsPerFile = 25,
      orderCols = Seq("doc_id"))
    val back = spark.read.parquet(dir)
    assert(back.count() == docs01.count(), "row loss through the shard writer")
    // every row sits in the shard its key hashes to
    val misplaced = back
      .filter(Shards.shardId($"doc_id", 8) =!= $"shard").count()
    assert(misplaced == 0, s"$misplaced rows in the wrong shard")
    // maxRecordsPerFile honored
    val files = new java.io.File(dir).listFiles.filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 25, s"file ${f.getName} has $n rows > maxRecordsPerFile")
    }
    // re-running assigns identically (pure function of the key)
    val again = docs01.select($"doc_id", Shards.shardId($"doc_id", 8).as("s2"))
    val joined = back.join(again, "doc_id").filter($"shard" =!= $"s2").count()
    assert(joined == 0, "shard assignment not reproducible")
  }

  test("mixture sampling: deterministic, zero-shuffle, rates in the ballpark") {
    import graft.llm.Shards
    val corpus = Tables.load(spark, sf0001, "documents")
    val s1 = Shards.mixtureSampleByRate(corpus, "doc_id", "source",
      Map("src0" -> 0.0, "src1" -> 1.0), defaultRate = 0.5)
    val s2 = Shards.mixtureSampleByRate(corpus, "doc_id", "source",
      Map("src0" -> 0.0, "src1" -> 1.0), defaultRate = 0.5)
    assert(s1.collect().map(_.getLong(0)).toSeq == s2.collect().map(_.getLong(0)).toSeq)
    val by = s1.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = corpus.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!by.contains("src0"), "rate-0 group sampled")
    assert(by("src1") == tot("src1"), "rate-1 group must keep everything")
    val restKept = by.filterKeys(k => k != "src0" && k != "src1").values.sum.toDouble
    val restTot = tot.filterKeys(k => k != "src0" && k != "src1").values.sum.toDouble
    assert(math.abs(restKept / restTot - 0.5) < 0.1, s"default 0.5 rate off: $restKept/$restTot")
    // zero shuffle: the sample is a pure filter over the scan
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"),
      "mixture sample must not shuffle")
  }

  test("quota sampling: exact per-group counts, deterministic membership") {
    import graft.llm.Shards
    val corpus = Tables.load(spark, sf0001, "documents")
    val q = Shards.quotaSample(corpus, "doc_id", "source", Map("src0" -> 3), defaultQuota = 5)
    val by = q.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by("src0") == 3)
    assert(by.filterKeys(_ != "src0").values.forall(_ <= 5))
    val again = Shards.quotaSample(corpus, "doc_id", "source", Map("src0" -> 3), defaultQuota = 5)
    assert(q.select("doc_id").collect().map(_.getLong(0)).sorted.sameElements(
      again.select("doc_id").collect().map(_.getLong(0)).sorted))
  }

  test("greedy packing: budget respected, every doc packed once, deterministic") {
    import graft.llm.Shards
    val corpus = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", graft.llm.TextStats.tokenCount($"text").cast("long").as("n_tokens"))
      .repartition(4, Shards.shardId($"doc_id", 4))
      .sortWithinPartitions($"doc_id")
    val packed = Shards.packGreedy(corpus, "doc_id", "n_tokens", maxTokens = 256).cache()
    // every doc exactly once
    assert(packed.count() == corpus.count())
    assert(packed.select("doc_id").distinct().count() == corpus.count())
    // no pack exceeds the budget unless it is a single oversized doc
    val over = packed.groupBy("pack_id")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      .filter($"t" > 256 && $"n" > 1).count()
    assert(over == 0, s"$over multi-doc packs exceed the budget")
    // deterministic under the same partitioning
    val again = Shards.packGreedy(corpus, "doc_id", "n_tokens", maxTokens = 256)
    assert(packed.orderBy("pack_id", "pack_pos").collect()
      .sameElements(again.orderBy("pack_id", "pack_pos").collect()))
    packed.unpersist()
  }

  test("packTexts: one row per pack, members concatenated in pack order") {
    import graft.llm.Shards
    val docs = Tables.load(spark, sf0001, "documents")
      .select($"doc_id", $"text")
    val corpus = docs
      .select($"doc_id", graft.llm.TextStats.tokenCount($"text").cast("long").as("n_tokens"))
    val packs = Shards.packGreedy(corpus, "doc_id", "n_tokens", maxTokens = 256).cache()
    val out = Shards.packTexts(packs, docs, "doc_id", "text", sep = "#").cache()
    // every pack materialized, doc counts conserved
    assert(out.count() == packs.select("pack_id").distinct().count())
    assert(out.agg(sum($"n_docs")).head.getLong(0) == packs.count())
    // spot-check one multi-doc pack: text is the pack-order join of member texts
    val multi = packs.groupBy("pack_id").count().filter($"count" > 1)
      .select("pack_id").head.getLong(0)
    val expected = packs.filter($"pack_id" === multi).orderBy("pack_pos")
      .join(docs, "doc_id").orderBy("pack_pos")
      .select("text").collect().map(_.getString(0)).mkString("#")
    val got = out.filter($"pack_id" === multi).head.getAs[String]("text")
    assert(got == expected, "pack text must join members in pack_pos order")
    packs.unpersist(); out.unpersist()
  }

  test("negativeSamples: k per query, no self, no positives, deterministic") {
    import graft.llm.Shards
    val e = Tables.load(spark, sf0001, "embeddings")
    val queries = e.filter($"vec_id" < 5)
    val positives = Similarity.cosineTopK(queries, e, "vec_id", "embedding", k = 3)
      .select($"query_id", $"neighbor_id")
    val negs = Shards.negativeSamples(queries, e, "vec_id", k = 4, positives).cache()
    val byQ = negs.groupBy("query_id").count().collect()
    assert(byQ.length == 5 && byQ.forall(_.getLong(1) == 4))
    assert(negs.filter($"query_id" === $"neg_id").count() == 0, "self pair leaked")
    assert(negs.join(positives,
      negs("query_id") === positives("query_id") &&
        negs("neg_id") === positives("neighbor_id")).count() == 0, "positive leaked as negative")
    val again = Shards.negativeSamples(queries, e, "vec_id", k = 4, positives)
    assert(negs.orderBy("query_id", "rank").collect()
      .sameElements(again.orderBy("query_id", "rank").collect()))
    negs.unpersist()
  }

  test("groupAwareSplit: split is a pure function of the group key, fractions honored") {
    import graft.llm.Shards
    val docs = Tables.load(spark, sf0001, "documents")
    val out = Shards.groupAwareSplit(docs, "source", 0.6, 0.2).cache()
    // every group maps to exactly one split — no leakage across splits
    val leaky = out.groupBy("source").agg(countDistinct($"split").as("n"))
      .filter($"n" > 1).count()
    assert(leaky == 0, "a group straddles splits")
    // zero shuffle: assignment rides the scan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "groupAwareSplit must not shuffle")
    // on a many-group input the fractions land near the targets
    val wide = spark.range(10000).select($"id".cast("string").as("g"))
    val frac = Shards.groupAwareSplit(wide, "g", 0.6, 0.2)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(frac("train") / 10000.0 - 0.6) < 0.05, s"train frac off: $frac")
    assert(math.abs(frac("val") / 10000.0 - 0.2) < 0.05, s"val frac off: $frac")
    out.unpersist()
  }

  test("dedupCorpus keeps exactly one representative per near-dup clique") {
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", n = 8, minMatches = 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 0,1,3 are a near/exact-dup clique -> keep 0; 2 and 4 stand alone
    assert(out.contains(0L) && out.contains(2L) && out.contains(4L))
    assert(!out.contains(3L), "exact dup survived")
    assert(!out.contains(1L), "near dup survived")
  }

  test("HLL vocab sketches: group estimates near exact, union rolls up without rescan") {
    val corpus = Tables.load(spark, sf0001, "documents")
    val sk = TextStats.vocabSketch(corpus, "source", "text").cache()
    val est = sk.select($"source",
      hll_sketch_estimate($"vocab_sketch").as("est")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val exact = corpus.select($"source", explode(split($"text", " ")).as("t"))
      .groupBy("source").agg(countDistinct($"t").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, n) <- exact)
      assert(math.abs(est(src) - n) / n < 0.05, s"$src: est ${est(src)} vs exact $n")
    // union of per-group sketches ≈ global distinct count — no rescan
    val union = TextStats.unionVocabSketches(sk).head().getLong(0).toDouble
    val globalExact = corpus.select(explode(split($"text", " ")).as("t"))
      .agg(countDistinct($"t")).head().getLong(0)
    assert(math.abs(union - globalExact) / globalExact < 0.05,
      s"union est $union vs exact $globalExact")
    sk.unpersist()
  }

  test("multimodal embeddings feed the ANN path end-to-end") {
    val media = Multimodal.asMedia(Tables.load(spark, sf0001, "documents"), "doc_id", "text")
    val emb = Multimodal.embed(media).cache()
    // deterministic across runs
    val e2 = Multimodal.embed(media)
    assert(emb.orderBy("media_id").collect().map(_.getSeq[Float](1)).toSeq ==
      e2.orderBy("media_id").collect().map(_.getSeq[Float](1)).toSeq)
    // unit-norm vectors
    val norms = emb.select(sqrt(aggregate(transform($"embedding",
      x => x.cast("double") * x.cast("double")), lit(0.0), (a, v) => a + v))).collect()
    assert(norms.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-5))
    // a doc's nearest neighbor by payload-histogram cosine is its exact dup
    val q = emb.filter($"media_id" === 0L)
    val top = Similarity.cosineTopK(q, emb, "media_id", "embedding", k = 1).collect()
    // docs 0 and 3 in sf0.001 need not be dups; assert shape + self-exclusion
    assert(top.length == 1 && top(0).getAs[Long]("neighbor_id") != 0L)
    emb.unpersist()
  }

  test("multimodal resize rewrites payloads deterministically; decode survives") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val small = Multimodal.resize(media, targetWidth = 8)
    val origBytes = media.collect().map(m => m.media_id -> m.payload.length).toMap
    val first = small.collect().map(m => m.media_id -> m.payload.toSeq).toMap
    assert(first.forall { case (id, p) => p.nonEmpty && p.length <= origBytes(id) })
    assert(first.exists { case (id, p) => p.length < origBytes(id) },
      "nothing actually shrank")
    val again = Multimodal.resize(media, targetWidth = 8)
      .collect().map(m => m.media_id -> m.payload.toSeq).toMap
    assert(first == again, "resize not deterministic")
    val meta = Multimodal.decodeMeta(small).collect()
    assert(meta.forall(_.n_bytes > 0))
  }

  test("multimodal decode reads REAL image dimensions via javax.imageio") {
    // syntheticPngs renders actual PNG bytes; the decoder must report
    // the true per-id geometry and 3 RGB channels — not byte-derived
    // placeholders — and label the row with the codec that decoded it
    val meta = Multimodal.decodeMeta(Multimodal.syntheticPngs(spark, 20))
      .collect().map(m => m.media_id -> m).toMap
    assert(meta.size == 20)
    meta.foreach { case (id, m) =>
      assert(m.decoder == "imageio", s"id $id decoded by ${m.decoder}")
      assert(m.width == 4 + (id % 5).toInt, s"id $id width ${m.width}")
      assert(m.height == 3 + (id % 4).toInt, s"id $id height ${m.height}")
      assert(m.channels == 3, s"id $id channels ${m.channels}")
      assert(m.n_frames == 1 && m.sample_rate == 0)
    }
    // text payloads are NOT silently mis-decoded: they take the
    // labeled fallback path
    val fb = Multimodal.decodeMeta(Multimodal.asMedia(docs, "doc_id", "text")).collect()
    assert(fb.nonEmpty && fb.forall(_.decoder == "fallback"))
  }

  test("multimodal decode handles JPEG payloads through the same codec path") {
    import spark.implicits._
    // render a real JPEG (lossy codec — geometry must survive even
    // though pixels won't): same ImageIO surface, different reader
    val jpegs = (0 until 6).map { i =>
      val w = 10 + i; val h = 7 + i
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics(); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      Multimodal.MediaRecord(i.toLong, "image", bos.toByteArray)
    }
    val meta = Multimodal.decodeMeta(spark.createDataset(jpegs))
      .collect().map(m => m.media_id -> m).toMap
    (0 until 6).foreach { i =>
      val m = meta(i.toLong)
      assert(m.decoder == "imageio" && m.width == 10 + i && m.height == 7 + i,
        s"jpeg $i: $m")
    }
  }

  test("multimodal resize really rescales decodable images (re-decode confirms)") {
    val media = Multimodal.syntheticPngs(spark, 12) // widths 4..8
    val small = Multimodal.resize(media, targetWidth = 5)
    val meta = Multimodal.decodeMeta(small).collect().map(m => m.media_id -> m).toMap
    meta.foreach { case (id, m) =>
      val srcW = 4 + (id % 5).toInt
      val expW = math.min(srcW, 5) // wider images shrink, narrower pass through
      assert(m.decoder == "imageio", s"id $id no longer decodable after resize")
      assert(m.width == expW, s"id $id width ${m.width}, expected $expW")
      assert(m.height >= 1)
    }
  }

  test("multimodal decode is deterministic with stable checksums") {
    val meta1 = Multimodal.decodeMeta(Multimodal.asMedia(docs, "doc_id", "text")).collect()
    val meta2 = Multimodal.decodeMeta(Multimodal.asMedia(docs, "doc_id", "text")).collect()
    assert(meta1.map(_.checksum).toSeq == meta2.map(_.checksum).toSeq)
    assert(meta1.forall(_.n_bytes > 0))
    // exact dup payloads share a checksum; distinct payloads do not
    val byId = meta1.map(m => m.media_id -> m.checksum).toMap
    assert(byId(0L) == byId(3L))
    assert(byId(0L) != byId(2L))
  }

  // ---------------- ANN recall gate ----------------

  test("recallAtK: exact-vs-exact is 1.0; a query the index dropped scores 0, not a missing row") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", k = 5)
    val self = Similarity.recallAtK(exact, exact).collect()
    assert(self.length == 5)
    assert(self.forall(_.getAs[Double]("recall") == 1.0))
    // drop one query's rows from the approx side entirely
    val dropped = Similarity.recallAtK(exact, exact.filter($"query_id" =!= 0L))
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    assert(dropped(0L) == 0.0, "silent per-query miss must surface as 0")
    assert((1L to 4L).forall(dropped(_) == 1.0))
  }

  test("recallAtK: hand-traced partial overlap; duplicate approx rows don't double-count") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 12L), (1L, 99L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(exact, approx).collect()(0)
    assert(r.getAs[Long]("n_exact") == 4L)
    assert(r.getAs[Long]("n_hit") == 2L)
    assert(r.getAs[Double]("recall") == 0.5)
  }

  test("recallAtK: measured IVF and LSH recall floors on the embeddings table") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", k = 5)
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 2)
    // measured spectrum on this table (deterministic seeds): LSH at
    // 8 bits scores 0.0 even multi-probed (256 buckets over 500
    // vectors — true neighbors don't share buckets), single-probe at
    // 4 bits 0.06, multi-probe at 4 bits 0.44, IVF 0.52. The gate
    // SURFACING the 0.0 configs is the point; the floors below pin
    // the configs with real quality against regression.
    val lsh = Similarity.lshTopKMultiProbe(q, emb, "vec_id", "embedding",
      dim = 64, nBits = 4, k = 5)
    def mean(df: org.apache.spark.sql.DataFrame): Double = {
      val rs = Similarity.recallAtK(exact, df).collect().map(_.getAs[Double]("recall"))
      rs.sum / rs.length
    }
    // deterministic (seeded kmeans / fixed hyperplanes): these are
    // regression floors for the measured quality, not statistical hopes
    assert(mean(ivf) >= 0.4, s"ivf mean recall ${mean(ivf)}")
    assert(mean(lsh) >= 0.25, s"lsh multi-probe mean recall ${mean(lsh)}")
  }

  test("ivfPqTopKReranked: exact re-rank lifts served recall to >= 0.9 (the serving config)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "embedding", k = 5)
    // the ns_ann_recall / HttpApi.ivfPqBackend production config:
    // 8-bit PQ codebooks, nProbe 6/8 cells, 10x over-fetch, exact
    // cosine re-rank of the shortlist. Measured 0.94 on this table
    // (deterministic seeds) vs 0.52 raw-ADC — the standard IVF-PQ
    // serving recipe's whole point. Floor at the served quality bar.
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      nCells = 8, m = 8, kCodes = 256)
    val rr = Similarity.ivfPqTopKReranked(q, idx, emb, "vec_id", "embedding",
      k = 5, nProbe = 6, overFetch = 10)
    val rs = Similarity.recallAtK(exact, rr).collect().map(_.getAs[Double]("recall"))
    val m = rs.sum / rs.length
    assert(m >= 0.9, s"reranked mean recall $m")
    // reranked scores are exact cosines: each served (query, neighbor)
    // cos must equal the brute-force cos for that pair
    val bruteCos = exact.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val servedCos = rr.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    val overlap = servedCos.filter { case (k2, _) => bruteCos.contains(k2) }
    assert(overlap.nonEmpty)
    overlap.foreach { case (pair, c) =>
      assert(c == bruteCos(pair), s"served cos for $pair drifted from exact") }
  }

  test("rrfFuse: hand-traced fusion — overlap wins, ties break on id, n_lists counts sources") {
    // lexical list for query 7: a(1), b(2), c(3); dense list: b(1), d(2)
    val lex = Seq((7L, "a", 1), (7L, "b", 2), (7L, "c", 3))
      .toDF("q", "id", "rank")
    val dense = Seq((7L, "b", 1), (7L, "d", 2)).toDF("q", "id", "rank")
    val out = Retrieval.rrfFuse(Seq(lex, dense), "q", "id", "rank", k = 10)
      .orderBy("rank").collect()
    def c(r: Int) = 1000000000000L / (60L + r)
    // b appears in both lists → 1/62 + 1/61 beats a's lone 1/61
    assert(out.map(_.getString(2)).toSeq == Seq("b", "a", "d", "c"))
    assert(out(0).getLong(3) == c(2) + c(1) && out(0).getLong(4) == 2)
    assert(out(1).getLong(3) == c(1) && out(1).getLong(4) == 1)
    // a and d are both rank-1-in-one-list... no: a is lex rank 1, d is
    // dense rank 2 → a (1/61) > d (1/62) > c (1/63): strict order here
    assert(out(2).getString(2) == "d" && out(3).getString(2) == "c")
    // tie case: two candidates with identical single-list ranks order by id
    val t1 = Seq((1L, "x", 1)).toDF("q", "id", "rank")
    val t2 = Seq((1L, "y", 1)).toDF("q", "id", "rank")
    val tied = Retrieval.rrfFuse(Seq(t1, t2), "q", "id", "rank", k = 10)
      .orderBy("rank").collect()
    assert(tied.map(_.getString(2)).toSeq == Seq("x", "y"),
      "equal scores must break ties on id for a total order")
    // top-k truncation
    assert(Retrieval.rrfFuse(Seq(lex, dense), "q", "id", "rank", k = 2)
      .count() == 2)
  }
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.12):
  * exact, token-set, MinHash (+LSH banding), SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - exact/token-set dedup is one hash-aggregate on a fingerprint — the
  *    shuffle key is the fingerprint itself so the reduction is maximal
  *    map-side (partial agg) and skew-free (hashes are uniform);
  *  - MinHash signatures are computed per-row with array expressions
  *    (no explode, no shuffle), then LSH banding shuffles only
  *    (docId, band, bandHash) tuples — tiny compared to the corpus;
  *  - candidate verification joins are band-bucket joins, never a
  *    quadratic cross join.
  */
object Dedup {

  /** Distinct word-3-gram shingles of a whitespace-tokenized text.
    * Requires ≥3 tokens (filter shorter docs first — ANSI mode makes
    * out-of-bounds element_at an error). */
  def shingles3(text: Column): Column = {
    val t = split(text, " ")
    array_distinct(transform(
      sequence(lit(1), size(t) - 2),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
  }

  /** Distinct (doc_id, shingle) rows — the exploded form of
    * [[shingles3]].
    *
    * A (doc_id, shingle) pair can only repeat WITHIN one document, so
    * the dedup is per-row: explode the per-doc `array_distinct` shingle
    * array instead of `.distinct()`-ing the raw rows — the old shape
    * paid a full corpus-token-scale SHUFFLE for a dedup that never
    * needed to leave the row (guide §2.4: remove shuffles outright).
    * The array lambda is interpreted where the raw explode is
    * codegen'd, but one in-row pass beats an exchange of every shingle
    * at any scale (measured at sf0.1: ns_ngram_jaccard's first
    * exchange disappears; same rows, oracle-exact). Assumes `idCol` is
    * unique per row (the standing dedup-family contract — every keep
    * rule here is keyed on it). [[shingleRowsRaw]] stays the generator
    * for consumers whose aggregate is idempotent under duplicates. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("tk")) - 2),
        i => concat_ws(" ", element_at(col("tk"), i),
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
        .as("sh"))

  /** [[shingleRows]] without the distinct — for consumers whose
    * aggregate is idempotent under duplicate (doc_id, shingle) rows
    * (e.g. a MIN), which saves the dedup shuffle.
    *
    * Shape: explode an index sequence, then three `element_at` lookups
    * into the tokenized array — fully codegen'd, ZERO shuffle (the scan
    * partitioning carries through). The earlier explode-tokens +
    * window-lead formulation paid an exchange + sort on doc_id for the
    * same rows (5× slower at sf0.1); the array-lambda form is
    * interpreted per row (worse again). Generate→Project fuse in one
    * whole-stage-codegen pipeline, so the token array is read in place,
    * never copied per output row. */
  def shingleRowsRaw(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 2)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("tk"), col("i")),
        element_at(col("tk"), col("i") + 1),
        element_at(col("tk"), col("i") + 2)).as("sh"))

  /** Portable MinHash over md5 hex strings (reproducible in any engine
    * with md5 — the DuckDB-oracle contract; xxhash64 variant is the fast
    * path). Hash index i reads 8 hex chars (32 bits) at offset
    * `(i%4)*8` of `md5(i/4 || '|' || shingle)` — FOUR independent
    * 32-bit hash families per md5 evaluation, so an n-hash signature
    * costs ceil(n/4) md5s instead of n. */
  def minhashSignatureMd5(shingles: Column, n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)),
      i => array_min(transform(shingles, s =>
        md5(concat((i / 4).cast("int").cast("string"), lit("|"), s))
          .substr((i % 4) * 8 + 1, lit(8)))))

  /** Exact dedup: group identical values of `fingerprintCol`, keep the
    * minimum id; returns (fingerprint, keep_id, n_dups). */
  def exactGroups(df: DataFrame, idCol: String, fingerprintCol: Column): DataFrame =
    df.groupBy(fingerprintCol.as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Candidate near-duplicate pairs: docs agreeing on ≥ `minMatches` of
    * `n` minhashes. The join key is (hashIndex, minhashValue) — i.e. LSH
    * with band size 1 — so cost scales with bucket sizes, not corpus².
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minMatches: Int): DataFrame =
    minhashCandidatePairs(docs, idCol, textCol, n, minMatches, Int.MaxValue)

  /** [[minhashCandidatePairs]] with a band-bucket cap: buckets larger
    * than `maxBucket` docs are dropped before the pair expansion. A
    * bucket of m docs expands to m² pairs — a mass-duplicate clique
    * (the 10×-scale probe: 10 copies of every doc → 250 k pairs from
    * 50 k docs) makes the OUTPUT quadratic in clique size, which no
    * join strategy fixes. Web-scale recipe: collapse exact duplicates
    * with [[exactGroups]] first, then cap the residual buckets; capped
    * drops can only lose pairs whose docs agree on a mass-shared hash,
    * i.e. members of cliques that exact-dedup should have handled. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minMatches: Int, maxBucket: Int): DataFrame = {
    // Explode-first formulation: one (doc, shingle) row per distinct
    // shingle, then the hash family per row and a (doc, i) min-aggregate.
    // The array-lambda form (minhashSignatureMd5) is semantically
    // identical but nests higher-order functions, which Catalyst
    // interprets rather than codegens AND re-evaluates the shingle tree
    // per hash index — ~20× slower at sf0.1. The min-agg is mostly
    // map-side (partial agg on uniform hash keys), so the shuffle
    // carries ~n rows per doc.
    // No .distinct() on the shingle rows: MIN is idempotent under
    // duplicates, so the dedup shuffle shingleRows' other callers need
    // is pure waste here — one less full shuffle of the shingle set.
    // Hash family: 8-hex-char (32-bit) slices of md5(j || '|' || sh) —
    // four independent hash indexes per md5 evaluation, so the dominant
    // per-shingle hashing cost is ceil(n/4) md5s, not n. The md5s are
    // materialized as columns once; the slices are cheap substrings in
    // the same codegen stage.
    // The n minima aggregate as n COLUMNS of one doc-keyed hash-agg, not
    // n× exploded rows through the aggregate: shingle rows leave the
    // generator doc-contiguous (no shuffle upstream), so the partial agg
    // collapses each doc to one row map-side and the exchange carries
    // n_docs rows, not n_docs × n. The (doc, i, mh) row shape the band
    // join needs is recovered by exploding the tiny signature table.
    val sigsAll = minhashSigRows(docs, idCol, textCol, n)
    val sigs =
      if (maxBucket == Int.MaxValue) sigsAll
      else {
        // one window count on the join key — same shuffle the join
        // needs anyway, so the cap is near-free
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("i"), col("mh"))
        sigsAll.withColumn("__bc", count(lit(1)).over(w))
          .filter(col("__bc") <= maxBucket).drop("__bc")
      }
    val a = sigs.as("a")
    val b = sigs.as("b")
    a.join(b, col("a.i") === col("b.i") && col("a.mh") === col("b.mh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_matches"))
      .filter(col("n_matches") >= minMatches)
  }

  /** (doc_id, i, mh) minhash signature rows, i ∈ [0, n). The hash
    * family and aggregate shape are documented in
    * [[minhashCandidatePairs]] (n COLUMN minima through one doc-keyed
    * hash-agg, ceil(n/4) md5s per shingle; the row shape is recovered
    * by exploding the tiny signature table). */
  def minhashSigRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val nMd5 = (n + 3) / 4
    val withH = shingleRowsRaw(docs, idCol, textCol).select(
      col("doc_id") +: (0 until nMd5).map(j =>
        md5(concat(lit(j.toString), lit("|"), col("sh"))).as(s"h$j")): _*)
    val minCols = (0 until n).map(i =>
      min(substring(col(s"h${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"m$i"))
    withH.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until n).map(i => col(s"m$i")): _*)).as(Seq("i", "mh")))
  }

  /** Cross-corpus NEAR-dup screen: for every probe doc (an eval/benchmark
    * set), the corpus docs agreeing on ≥ `minMatches` of `n` minhashes —
    * decontamination's fuzzy complement to the exact n-gram overlap of
    * [[contaminationFlags]] (verbatim leaks caught there; paraphrased/
    * truncated near-copies caught here).
    *
    * 100 TB shape: the probe side is benchmark-sized, so its signature
    * table (nProbes × n rows) BROADCASTS — the corpus-side signatures
    * join in place and the corpus is never shuffled for the screen; the
    * only exchange is the final (probe, corpus-doc)-keyed count, whose
    * input is already pruned to bucket collisions. Returns
    * (probe_id, corpus_id, n_matches). Probes drawn from the corpus id
    * space match themselves — filter `probe_id =!= corpus_id` at the
    * call site if self-hits are noise. */
  def crossCorpusNearDups(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      minMatches: Int = 6): DataFrame = {
    val c = minhashSigRows(corpus, idCol, textCol, n)
    val p = minhashSigRows(probes, idCol, textCol, n)
      .withColumnRenamed("doc_id", "probe_id")
    c.join(broadcast(p), Seq("i", "mh"))
      .groupBy(col("probe_id"), col("doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("n_matches"))
      .filter(col("n_matches") >= minMatches)
  }

  /** 16-bit SimHash from md5 of whitespace tokens (frequency-weighted).
    * Bit b is the sign of the +1/−1 vote sum over tokens, where a token
    * votes by the low bit of hex digit b of its md5. Integer votes →
    * order-independent, engine-portable. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (0 until 16).map { b =>
      sum(when((instr(lit("0123456789abcdef"), substring(col("h"), b + 1, 1)) - 1) % 2 === 1, 1)
        .otherwise(-1)).as(s"v$b")
    }
    val agg = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 16).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** `nBits`-wide SimHash (nBits ≤ 62): bit b is voted by bit `b % 4` of
    * hex digit `b / 4` of each token's md5 — 128 hash bits available, so
    * widths up to the practical 64-bit standard need no second hash.
    * [[simhash16]] keeps the original 16-bit layout (oracle-pinned);
    * this is the production width for hamming-distance dedup, where
    * 16 bits would alias unrelated docs at corpus scale. */
  def simhashWide(docs: DataFrame, idCol: String, textCol: String,
      nBits: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 62, s"nBits must be in [1,62], got $nBits")
    val nDigits = (nBits + 3) / 4
    // Project each needed hex digit's VALUE once (nDigits exprs), then
    // derive the 4 bit votes per digit by shifts — not nBits separate
    // substring+instr evaluations per token (aggregate inputs don't get
    // common-subexpression elimination across aggregate functions).
    val tok = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
      .select(col("doc_id") +: (0 until nDigits).map(d =>
        (instr(lit("0123456789abcdef"), substring(col("h"), d + 1, 1)) - 1)
          .as(s"d$d")): _*)
    val votes = (0 until nBits).map { b =>
      val digitBit = shiftright(col(s"d${b / 4}"), b % 4) % 2
      sum(when(digitBit === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agg = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until nBits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash hamming distance ≤ `maxHamming`,
    * found via 4-band LSH: two signatures within hamming 3 differ in at
    * most 3 of the 4 bands, so they MUST agree on at least one band
    * (pigeonhole) — banding is therefore EXACT for maxHamming ≤ 3, not a
    * recall trade-off. The join key is (band index, band value): only
    * same-band-value buckets meet, never corpus². Signatures ride the
    * band rows, so the hamming verify needs no join back to the
    * signature table. At extreme scale, widen `nBits` (band value
    * cardinality = 2^(nBits/4) bounds bucket sizes) before resorting to
    * more permutations. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, nBits: Int = 32,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3, "4-band LSH is only exact for maxHamming <= 3")
    require(nBits % 4 == 0, s"nBits must be divisible by 4 bands, got $nBits")
    val bandBits = nBits / 4
    val sig = simhashWide(docs, idCol, textCol, nBits)
    val bandsAll = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)).as(Seq("band_i", "band_v")))
    // Optional bucket cap (see minhashCandidatePairs overload): capping
    // trades the hamming≤3 EXACTNESS guarantee for bounded expansion on
    // mass-duplicate cliques — collapse exact dups first, then cap.
    val bands =
      if (maxBucket == Int.MaxValue) bandsAll
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_i"), col("band_v"))
        bandsAll.withColumn("__bc", count(lit(1)).over(w))
          .filter(col("__bc") <= maxBucket).drop("__bc")
      }
    bands.as("a").join(bands.as("b"),
        col("a.band_i") === col("b.band_i") && col("a.band_v") === col("b.band_v") &&
          col("a.doc_id") < col("b.doc_id"))
      // group collapses pairs that share several bands to one row
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .agg(count(lit(1)).as("n_bands"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Incremental near-dup detection — the continuous-ingest complement
    * to [[minhashCandidatePairs]]: which INCREMENT docs are near-dups
    * of the EXISTING corpus (or of each other), without re-pairing the
    * corpus against itself. This is the shape a daily ingest needs: the
    * corpus signatures are computed once (in practice, read from the
    * signature table the last run wrote) and only increment×corpus and
    * increment×increment bucket collisions are expanded — corpus²
    * never happens again after the initial build.
    *
    * Returns (doc_id, dup_of) for increment docs matching ≥ minMatches
    * of n minhashes against any prior doc (corpus, or an earlier-id
    * increment doc); survivors are the increment's `left_anti` of it. */
  def incrementalNearDups(corpus: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, n: Int, minMatches: Int): DataFrame = {
    val sigsOf = (df: DataFrame) => {
      val nMd5 = (n + 3) / 4
      val withH = shingleRowsRaw(df, idCol, textCol).select(
        col("doc_id") +: (0 until nMd5).map(j =>
          md5(concat(lit(j.toString), lit("|"), col("sh"))).as(s"h$j")): _*)
      val minCols = (0 until n).map(i =>
        min(substring(col(s"h${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"m$i"))
      withH.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"),
          posexplode(array((0 until n).map(i => col(s"m$i")): _*)).as(Seq("i", "mh")))
    }
    // Corpus docs always rank as "prior": any corpus hit wins over an
    // increment-internal hit, and increment-internal pairs dedup to the
    // smaller id — the same keep-first rule as the batch path. The
    // increment's shingle→md5→min-agg pipeline is the expensive part
    // and feeds BOTH join sides; localCheckpoint materializes it once
    // (a daily increment is small by definition) instead of evaluating
    // the whole pipeline twice.
    val incSigs = sigsOf(increment).localCheckpoint()
    val prior = sigsOf(corpus).withColumn("__prio", lit(0))
      .union(incSigs.withColumn("__prio", lit(1)))
    val inc = incSigs
    // A corpus row sharing the increment doc's id must not match it
    // (it would be flagged as a duplicate of itself): prio-0 hits
    // require distinct ids, increment-internal hits require a smaller id.
    inc.as("a").join(prior.as("b"),
        col("a.i") === col("b.i") && col("a.mh") === col("b.mh") &&
          ((col("b.__prio") === 0 && col("b.doc_id") =!= col("a.doc_id")) ||
            (col("b.__prio") === 1 && col("b.doc_id") < col("a.doc_id"))))
      .groupBy(col("a.doc_id").as("doc_id"),
        col("b.doc_id").as("cand"), col("b.__prio").as("prio"))
      .agg(count(lit(1)).as("n_matches"))
      .filter(col("n_matches") >= minMatches)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("prio"), col("cand"))).as("best"))
      .select(col("doc_id"), col("best.cand").as("dup_of"))
  }

  /** Collapse near-duplicate PAIRS into GROUPS: connected components,
    * returning (doc_id, group_id = smallest id in the component).
    *
    * Each round does (1) a hop — every node adopts the min label among
    * itself and its neighbors — then (2) a pointer jump — every node
    * re-reads the label OF its current label. The jump doubles the
    * propagation distance per round, so convergence is O(log diameter)
    * rounds, not O(diameter). Each round `localCheckpoint`s the label
    * table: lineage stays one round deep and the convergence count is a
    * scan of materialized partitions, so plan size and job overhead are
    * flat in the round number. Throws if `maxIter` rounds (covering
    * components of diameter ~2^maxIter) don't reach the fixpoint —
    * a partial labeling is silently wrong, never returned. */
  def connectedGroups(pairs: DataFrame, maxIter: Int = 10,
      broadcastNodeLimit: Long = 1000000L): DataFrame = {
    // Both edge directions from ONE pass over `pairs`: a union of two
    // selections evaluates the (possibly expensive) pairs pipeline
    // twice — exploding a 2-element struct array emits (a,b) and (b,a)
    // per input row in a single evaluation.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("a"), col("doc_b").as("b")),
        struct(col("doc_b").as("a"), col("doc_a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().cache()
    // Init with the first hop already applied: grp0 = min(self ∪ direct
    // neighbors). Same single shuffle as a distinct-nodes init (groupBy
    // on the edge source), but the loop starts one propagation step
    // ahead — one fewer round end-to-end.
    var labels = edges.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("mb"))
      .select(col("id"), least(col("id"), col("mb")).as("grp"))
      .localCheckpoint()
    // Labels only ever DECREASE (each round takes a min including self),
    // so the label-sum is strictly monotone until the fixpoint — an
    // unchanged sum IS convergence. That makes the per-round convergence
    // check a scan-aggregate of the checkpointed table instead of a join.
    def sumAndCount(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("grp").cast("decimal(38,0)")), count(lit(1))).head()
      (r.getDecimal(0), r.getLong(1))
    }
    val (sum0, nNodes) = sumAndCount(labels)
    // The node set (docs that appear in a near-dup pair) is typically a
    // tiny fraction of the corpus; when it fits a broadcast, every
    // per-round join becomes a map-side broadcast hash join against the
    // cached edges — no edge shuffle, ever. Above the limit, fall back
    // to shuffle joins (correct at any scale, just more exchanges).
    if (nNodes == 0) {
      edges.unpersist(false)
      return labels.select(col("id").as("doc_id"), col("grp").as("group_id"))
    }
    val bcast = nNodes <= broadcastNodeLimit
    def maybeB(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    // Small graph ⇒ 32-partition scans are pure task-scheduling overhead;
    // run each round's tiny join/agg as single tasks. (coalesce reads the
    // cached blocks, no shuffle.) The single-task squeeze has a MUCH
    // lower ceiling than the broadcast decision: broadcasting 200 k
    // labels is fine, but pushing that graph's millions of edge rows
    // through ONE task serialized every round (the 40× probe: 8.6 M
    // edges, 42 s total). Past the squeeze limit, keep the broadcast
    // join but with full task parallelism over the cached edges.
    val squeeze1 = nNodes <= 65536 && edges.count() <= (1L << 20)
    def squeeze(df: DataFrame): DataFrame = if (bcast && squeeze1) df.coalesce(1) else df
    val e = squeeze(edges)
    var prevSum = sum0
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // min over {self} ∪ {neighbor labels}: one join + one aggregate
      val hopped = e
        .join(maybeB(labels.withColumnRenamed("id", "b").withColumnRenamed("grp", "bgrp")), "b")
        .select(col("a").as("id"), col("bgrp").as("grp"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("grp")).as("grp"))
      // Pointer jump: labels point at node ids, so chase one level —
      // grp := label(grp). Monotone decreasing, hence always ≤ grp.
      // Hop + jump land in ONE checkpointed job per round: re-evaluating
      // the cheap hop aggregate on the broadcast side costs less than a
      // second job's scheduling round-trip.
      val next = squeeze(hopped
        .join(maybeB(hopped.select(col("id").as("grp"), col("grp").as("pgrp"))), Seq("grp"), "left")
        .select(col("id"), coalesce(col("pgrp"), col("grp")).as("grp")))
        .localCheckpoint()
      val (s, _) = sumAndCount(next)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    edges.unpersist(false)
    if (!converged) throw new IllegalStateException(
      s"connectedGroups did not converge in $maxIter rounds — component diameter exceeds 2^$maxIter")
    labels.select(col("id").as("doc_id"), col("grp").as("group_id"))
  }

  /** End-to-end near-dup DEDUP: the corpus with every near-dup group
    * collapsed to its representative (smallest id — the same keep rule
    * as [[exactGroups]]). Composes the full-scale path: MinHash
    * signatures → band-bucket candidate pairs → connected components →
    * anti-join the non-representatives out. The drop set is one row per
    * removed doc — tiny next to the corpus — so the anti-join
    * broadcasts and the corpus is never shuffled. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minMatches: Int = 6): DataFrame = {
    val drops = connectedGroups(minhashCandidatePairs(docs, idCol, textCol, n, minMatches))
      .filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drops, Seq(idCol), "left_anti")
  }

  /** Streaming exact dedup: drop rows whose `keyCols` were already seen
    * within the watermark horizon (Spark's state-store-backed
    * `dropDuplicatesWithinWatermark`). This is the continuous-ingest
    * form of [[exactGroups]]: key by a content fingerprint column (e.g.
    * `md5(text)`) to dedup documents as they arrive instead of in a
    * nightly batch; the watermark bounds state size, so it runs forever
    * at any rate. */
  def streamingExactDedup(stream: DataFrame, eventTimeCol: String,
      watermarkDelay: String, keyCols: Seq[String]): DataFrame =
    stream.withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Benchmark decontamination: for every training doc, the number of
    * distinct word-3-grams it shares with ANY benchmark doc — the
    * standard n-gram-overlap contamination test run before training so
    * eval sets don't leak into the corpus. Docs with
    * `n_hits ≥ minOverlap` are flagged.
    *
    * Scale shape: the benchmark shingle set is DISTINCT'd and joined on
    * the shingle string — benchmarks are small relative to the corpus,
    * so the join broadcasts (AQE) and the corpus is never shuffled;
    * counting matches is a doc-keyed map-side-collapsing aggregate.
    * Returns every corpus doc with (n_shingles, n_hits, contaminated).
    */
  def contaminationFlags(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, minOverlap: Int): DataFrame = {
    val corpusSh = shingleRows(docs, idCol, textCol)
    val benchSh = shingleRows(benchmark, idCol, textCol)
      .select(col("sh")).distinct()
    corpusSh
      .join(benchSh.withColumn("__hit", lit(1)), Seq("sh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minOverlap)
  }

  /** [[contaminationFlags]] with a Bloom-filter prefilter — the 100 TB
    * decontamination shape. A Bloom filter of the benchmark's distinct
    * shingles (built by a distributed [[graft.expr.Bloom]] aggregate,
    * ~1.2 MB per million shingles at 1 % fpp) rides the corpus scan as a
    * codegen'd predicate, so only the tiny might-match fraction of
    * corpus shingles reaches the exact confirm join. The result is
    * EXACT — blooms have no false negatives, and the join removes the
    * false positives — which is what keeps this oracle-checkable.
    *
    * Why it matters at scale: the broadcast-join form
    * ([[contaminationFlags]]) already avoids shuffling the corpus, but
    * every corpus shingle still probes the hash relation and per-doc
    * hit counting aggregates every row. Here non-matching shingles
    * (virtually all of them) die at the scan, and when the benchmark
    * set outgrows broadcast range the bloom still spares the corpus
    * from the shuffle join — only candidates shuffle. */
  def bloomDecontaminate(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, minOverlap: Int,
      fpp: Double = 0.01): DataFrame = {
    val benchSh = shingleRows(benchmark, idCol, textCol)
      .select(col("sh")).distinct()
    // Sizing count + build are two small jobs over the SMALL side only.
    val nBench = benchSh.count()
    val bloom = graft.expr.Bloom.build(benchSh, "sh", nBench, fpp)
    // RAW shingle rows with the bloom probe riding the generator, and
    // the (doc, sh) dedup AFTER it: duplicates of one shingle all pass
    // or all fail the (deterministic) bloom, so distinct-after admits
    // exactly the same set — but the dedup exchange is now
    // CANDIDATE-sized instead of corpus-token-sized. The previous
    // shape distinct'd every corpus shingle before the filter could
    // kill it — a full corpus-token shuffle that existed only to
    // protect n_hits from double counting.
    val candidates = shingleRowsRaw(docs, idCol, textCol)
      .filter(graft.expr.Bloom.mightContain(bloom, col("sh")))
      .distinct()
      .join(benchSh.withColumn("__hit", lit(1)), Seq("sh"), "left_outer")
      .filter(col("__hit").isNotNull) // drop bloom false positives
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    // n_shingles (the per-doc DISTINCT shingle count) is a per-row
    // projection — size(shingles3(text)) — not an exploded aggregate:
    // the second full shingle-generation + distinct + doc-keyed shuffle
    // the old shape paid for a number the row itself already knows.
    // Same population: only docs with ≥ 3 tokens emit shingles.
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        size(array_distinct(transform(
          sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1), element_at(col("tk"), i + 2)))))
          .cast("long").as("n_shingles"))
      .join(candidates, Seq("doc_id"), "left_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") >= minOverlap)
  }

  /** Cross-document repeated-chunk statistics — the fixed-width analog
    * of C4's line dedup / exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): the
    * text is cut into non-overlapping `k`-token chunks, each chunk is
    * fingerprinted, and a chunk counts as duplicated when it appears in
    * MORE THAN ONE document. Returns one row per doc:
    * (doc_id, n_chunks, n_dup_chunks, dup_ratio) — the per-doc signal a
    * pipeline thresholds on to drop boilerplate-heavy documents.
    *
    * Scale shape: chunking is a fused explode (index sequence +
    * `slice` into the tokenized array — zero shuffle, scan partitioning
    * carries through); the chunk-frequency table is ONE hash-aggregate
    * keyed by the chunk hash (uniform, skew-free); the flag join back is
    * hash-keyed on the same fingerprint; per-doc stats collapse
    * map-side because chunk rows leave the generator doc-contiguous. No
    * step ever holds a whole document's pair set in one task. */
  def chunkDedupStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"chunk width must be >= 1, got $k")
    val chunks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), ((size(col("tk")) - 1) / k).cast("int"))).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("tk"), col("i") * k + 1, lit(k)), " ")).as("h"))
    val docFreq = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df_docs"))
    chunks.join(docFreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("df_docs") > 1, 1)).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  /** Cross-document repeated-chunk REMOVAL — [[chunkDedupStats]]'s
    * destructive sibling, C4's actual behavior: every chunk that
    * appears in more than one document keeps its FIRST occurrence
    * (smallest doc id) and is stripped everywhere else; each doc's
    * surviving chunks reassemble in order. Returns
    * (doc_id, clean_text, n_kept, n_removed). Docs that lose nothing
    * round-trip to their exact original text.
    *
    * Scale shape: same fused-explode chunking and chunk-hash aggregate
    * as the stats form — the frequency table groups and joins on
    * md5(chunk), NOT the raw k-token text, so neither shuffle carries
    * document text (the text rides only the chunk-rows side into the
    * reassembly aggregate); reassembly is one doc-keyed
    * sort_array(collect_list(struct(idx, chunk))) aggregate — per-doc
    * lists only, never corpus-wide. */
  def chunkDedupStrip(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"chunk width must be >= 1, got $k")
    val chunks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), ((size(col("tk")) - 1) / k).cast("int"))).as("i"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("tk"), col("i") * k + 1, lit(k)), " ").as("chunk"))
      .withColumn("h", md5(col("chunk")))
    val docFreq = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df_docs"),
        min(col("doc_id")).as("first_doc"))
    chunks.join(docFreq, Seq("h"))
      .withColumn("keep", col("df_docs") === 1 || col("doc_id") === col("first_doc"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("i"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("clean_text"),
        count(when(col("keep"), 1)).as("n_kept"),
        count(when(!col("keep"), 1)).as("n_removed"))
  }

  /** Near-duplicate pairs by EDIT DISTANCE (Levenshtein) on a prefix,
    * within blocking buckets — the fuzzy-match complement to the
    * set-based families above (n-gram Jaccard is insertion-order-blind;
    * edit distance catches small in-place mutations such as OCR noise
    * or template fills). `blockCol` is the blocking key (standard
    * record-linkage practice: only same-block docs are compared, so the
    * comparison count is Σ|block|², never corpus²); `prefixLen` bounds
    * the DP cost per pair at prefixLen² independent of document length.
    * Emits (doc_a, doc_b, dist) for pairs with dist ≤ `maxDist`.
    *
    * At 100 TB the blocking key does the heavy lifting — block on
    * something duplicates preserve (language + length bucket, a SimHash
    * band, a MinHash bucket) and the self-join shuffles each side once
    * on that key. Levenshtein is codegen'd (built-in expression), so
    * the filter runs inside the join stage. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: Column, prefixLen: Int, maxDist: Int,
      maxBlock: Int = Int.MaxValue): DataFrame = {
    val dAll = docs.select(col(idCol).as("doc_id"),
      substring(col(textCol), 1, prefixLen).as("pfx"), blockCol.as("blk"))
    // Opt-in block cap, symmetric with the other pair operators'
    // maxBucket: a block of m docs yields m² candidate pairs, so a
    // too-coarse blocking key (the 10× probe: one language, 35 length
    // buckets over 50 k docs → 34 M candidates) makes the JOIN OUTPUT
    // the bottleneck regardless of how cheap each comparison is. The
    // cap is one window count on blk — the same shuffle key the join
    // uses. Oversized blocks mean the key isn't discriminating; tighten
    // it (add a SimHash band or MinHash bucket) rather than raise the cap.
    val d =
      if (maxBlock == Int.MaxValue) dAll
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))
        dAll.withColumn("__bc", count(lit(1)).over(w))
          .filter(col("__bc") <= maxBlock).drop("__bc")
      }
    // Thresholded levenshtein: the DP abandons early once every cell
    // exceeds maxDist (returns -1), so the per-pair cost is
    // O(prefixLen × maxDist), not O(prefixLen²) — the candidate pairs
    // are overwhelmingly non-matches, which is exactly where the
    // early-exit pays.
    d.as("a").join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.pfx"), col("b.pfx"), maxDist).as("dist"))
      .filter(col("dist").between(0, maxDist))
  }

  /** Shingles whose document frequency exceeds `maxDf` — the
    * "stop-shingles" [[ngramJaccardPairs]] drops. Exposed so callers can
    * count/log what a df cap discards before trusting capped output. */
  def hotShingles(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int): DataFrame =
    shingleRows(docs, idCol, textCol)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  /** Exact n-gram Jaccard similarity for all pairs in `docs`, computed
    * over the shingles with document frequency ≤ `maxShingleDf`
    * (stop-shingle practice: a 3-gram like "of the and" appears in a
    * constant fraction of any corpus, carries ~zero similarity signal,
    * and would otherwise put every containing doc into ONE bucket that
    * expands quadratically inside a single task — the one shape that
    * OOMs at 100 TB). Both the intersection counts and the per-doc set
    * sizes use the capped universe, so the result is a true Jaccard
    * over the filtered shingle sets. Use [[hotShingles]] to audit what
    * a cap drops; pass `Int.MaxValue` for the uncapped O(n²) form on
    * candidate sets. MinHash-LSH remains the full-scale path. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = shingleRows(docs, idCol, textCol)
    val kept =
      if (maxShingleDf == Int.MaxValue) all
      else
        // Window count, not a groupBy+join — a single shuffle on sh
        all.withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
          .filter(col("df") <= maxShingleDf).drop("df")
    // Per-doc set size rides along as a struct field, so the jaccard
    // denominator needs NO post-join against a separate sizes table —
    // the whole operator is ONE stream through three hash shuffles
    // (df-cap by sh, size by doc, buckets by sh), instead of three
    // recomputations of the shingle set stitched by two joins.
    val withSz = kept.withColumn("sz",
      count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // Pair generation via group-by-shingle + in-place expansion: one
    // narrow shuffle of (shingle, doc_id, sz) instead of a string-keyed
    // self-join that ships the shingle text twice; the pair counts then
    // partial-aggregate map-side. Equivalent to JOIN ... ON a.sh = b.sh
    // AND a.doc_id < b.doc_id GROUP BY pair. With the df cap, bucket
    // expansion is bounded by maxShingleDf² pairs per shingle.
    withSz
      .groupBy(col("sh")).agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 §4.1 —
    * ExactSubstr): remove every token covered by a ≥ `minLen`-token
    * substring that also occurs elsewhere in the corpus, keeping the
    * globally FIRST occurrence (smallest (doc_id, position)) of each
    * repeated substring. [[chunkDedupStrip]] is the stride-k (C4-style)
    * approximation of this; here grams slide at stride 1, so repeats at
    * ANY alignment are caught — the reference algorithm uses a suffix
    * array for the same result in less memory; the Spark shape trades
    * minLen× row expansion (hashes only, never gram text) for full
    * distribution. Returns (doc_id, clean_text, n_kept, n_removed);
    * docs shorter than `minLen` tokens pass through untouched.
    *
    * Shape: gram rows are a fused explode over the token array carrying
    * md5(gram) only; the duplicate-gram table is ONE uniform hash-agg
    * keyed on that hash (min(struct(doc, pos)) picks the kept
    * occurrence); coverage = a max-flag ROWS window of width minLen per
    * doc (gaps-and-islands without a join); reassembly is the same
    * doc-keyed ordered collect as chunkDedupStrip. One corpus shuffle
    * on the gram hash, one on doc_id. */
  def exactSubstrStrip(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
    // every gram start position; docs too short emit no grams
    val grams = tk
      .filter(size(col("tk")) >= minLen)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - minLen)).as("s"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("tk"), col("s") + 1, lit(minLen)), " ")).as("h"))
    val dupFirst = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("s"))).as("first"))
      .filter(col("cnt") > 1)
      .select(col("h"), col("first.doc_id").as("f_doc"), col("first.s").as("f_s"))
    // flag gram STARTS that begin a duplicated, not-first span
    val flagged = grams.join(dupFirst, Seq("h"))
      .filter(!(col("doc_id") === col("f_doc") && col("s") === col("f_s")))
      .select(col("doc_id"), col("s")).withColumn("flag", lit(1))
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("p", "tok")))
    val wCover = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(minLen - 1), 0)
    pos.join(flagged, pos("doc_id") === flagged("doc_id") && col("p") === col("s"), "left")
      .select(pos("doc_id"), col("p"), col("tok"), col("flag"))
      .withColumn("covered", max(col("flag")).over(wCover) === 1)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!coalesce(col("covered"), lit(false)),
            struct(col("p"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(when(!coalesce(col("covered"), lit(false)), 1)).as("n_kept"),
        count(when(coalesce(col("covered"), lit(false)), 1)).as("n_removed"))
  }

  /** Corpus snapshot diff — classify every doc id across two corpus
    * versions as added / removed / changed / unchanged (by content
    * fingerprint), the delta report behind incremental recrawls and
    * dataset version audits. ONE full-outer join on the natural key
    * (both sides shuffle-partitioned on id — co-partitioned at any
    * scale) comparing md5 fingerprints, never raw text, across the
    * join. Output: (idCol, status). */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("__id"), md5(col(textCol)).as("__ofp"))
    val n = newDocs.select(col(idCol).as("__id"), md5(col(textCol)).as("__nfp"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__ofp").isNull, "added")
          .when(col("__nfp").isNull, "removed")
          .when(col("__ofp") =!= col("__nfp"), "changed")
          .otherwise("unchanged").as("status"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.TextFunctions._
import graft.plans.Spread

/** Deduplication operators over `documents` (SURVEY §2.3).
  *
  * Scale shape: exact dedup is one hash aggregation (shuffle on the
  * 128-bit fingerprint — uniformly distributed, no skew). Candidate
  * generation never goes O(n²): pairs are only formed inside a
  * blocking/bucketing key (source block here; MinHash-LSH band
  * buckets in MinHashDedup), then verified exactly.
  */
object Dedup {

  /** D1 — exact dedup by canonical-form fingerprint. Emits every doc
    * with its duplicate-group stats; `is_dup` rows are the ones a
    * pipeline would drop. Window over fp ≡ groupBy+join but one
    * shuffle only.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = fingerprintMd5(col("text"))
    val byFp = Window.partitionBy(col("fp"))
    documents(spark, sfDir)
      .select(col("doc_id"), fp.as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .withColumn("group_size", count(lit(1)).over(byFp))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** D7 — batch contamination screen: every document's exact n-gram
    * Jaccard against a REFERENCE set (eval benchmarks, blocklists —
    * here the doc_id % 7 == 0 subset stands in). EXACT (no LSH recall
    * gap), which is what lets this be oracle-checked; the streaming
    * twin (StreamingOps.contaminationScreen) trades exactness for
    * bounded per-batch work via banding.
    *
    * Shape: an INVERTED reference index, not per-pair intersections.
    * Both sides flatMap to (shingle-key, packed id|setSize) postings
    * (same two-long posting scheme as [[jaccardPairs]]); the
    * dimension-sized reference postings broadcast-hash-join the corpus
    * postings on the 64-bit shingle key, and intersection sizes fall
    * out of a count per (doc, ref) pair. Work is ∝ Σ matching
    * postings — pairs sharing zero shingles never materialize —
    * instead of Θ(|corpus|·|refs|) array merges: at a 100 TB corpus ×
    * 100k-doc eval suite the previous broadcast-nested-loop form was
    * 10¹⁵ intersections; this form touches only actual key hits. If
    * the exploded reference outgrows the broadcast budget, drop the
    * hint and the same plan degrades gracefully to a shuffled hash
    * join, still ∝ postings.
    */
  def screenAgainstReference(spark: SparkSession, sfDir: String,
      threshold: Double = 0.05, refMod: Int = 7): DataFrame =
    screenDocs(documents(spark, sfDir), threshold, refMod)

  /** [[screenAgainstReference]] over an arbitrary `(doc_id, text)`
    * frame — the testable core. `threshold` must be strictly positive:
    * the inverted-postings shape can only materialize pairs that share
    * at least one shingle, so a zero/negative threshold (which the old
    * cross-join form would answer with every corpus×ref pair) is a
    * semantics change this operator refuses rather than silently
    * narrows.
    *
    * `maxRefDf` caps the reference document frequency per shingle
    * (standard stop-shingle treatment, mirroring [[jaccardPairs]]'s
    * `maxDf`): a shingle present in thousands of reference documents
    * is boilerplate, not contamination signal, and each corpus
    * posting hitting it would fan out into that many join rows — the
    * 100× probe caught exactly this blow-up. Dropped shingles are
    * observable via the `contamination_ref_cap` metric; the default
    * is far above any df the oracle corpora produce, so test-scale
    * results are unchanged.
    */
  def screenDocs(docs: DataFrame, threshold: Double = 0.05,
      refMod: Int = 7, maxRefDf: Int = 1000): DataFrame =
    // indexed by default: 29.3 s vs the join form's 826 s at the 100×
    // probe (identical 8.76 M pairs) — the join's (doc, ref) count
    // aggregation spills; the per-doc sort never builds a table.
    // screenDocsJoin remains for references too big to index.
    screenDocsIndexed(docs, threshold, refMod, maxRefDf)

  /** D11 — APPLY the contamination screen: the DECONTAMINATED corpus.
    * [[screenDocs]] emits the (doc, ref, jaccard) diagnostics; this
    * is the call a pipeline ships — every document overlapping any
    * reference above the threshold is dropped, reference members
    * themselves are kept (they model the eval set, not the training
    * corpus). Mirrors [[Clusters.dedupApply]]'s shape: the removal
    * is a LEFT ANTI join against the DISTINCT flagged ids — ids
    * only, broadcastable whenever the flagged set fits, the text
    * column never crosses a shuffle.
    */
  def screenApply(spark: SparkSession, sfDir: String,
      threshold: Double = 0.05, refMod: Int = 7,
      maxRefDf: Int = 1000): DataFrame = {
    val docs = documents(spark, sfDir)
    val flagged = screenDocs(docs, threshold, refMod, maxRefDf)
      .select(col("doc_id")).distinct()
    docs.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Sorted DISTINCT FNV keys of a doc's `n`-token windows — the
    * shared gram identity of D13's exact screen and D18's Bloom
    * screen (FNV over the space-joined window: identical bytes to the
    * oracle's concat_ws(' ', ...) gram string; tokenization is
    * [[CorpusOps.duckTokens]]).
    */
  private[graft] def ngramFnvKeys(t: String, n: Int): Array[Long] = {
    val tk = CorpusOps.duckTokens(t)
    if (tk.length < n) Array.emptyLongArray
    else {
      val out = new Array[Long](tk.length - n + 1)
      var i = 0
      while (i <= tk.length - n) {
        var h = 0xcbf29ce484222325L
        var w = 0
        while (w < n) {
          if (w > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
          val bs = tk(i + w).getBytes("UTF-8")
          var b = 0
          while (b < bs.length) {
            h ^= bs(b) & 0xffL; h *= 0x100000001b3L; b += 1
          }
          w += 1
        }
        out(i) = h
        i += 1
      }
      java.util.Arrays.sort(out)
      var m = 0
      var j = 0
      while (j < out.length) {
        if (m == 0 || out(m - 1) != out(j)) { out(m) = out(j); m += 1 }
        j += 1
      }
      java.util.Arrays.copyOf(out, m)
    }
  }

  /** D13 — VERBATIM n-GRAM OVERLAP SCREEN (the GPT-3/Llama eval
    * decontamination standard): flag every corpus doc that shares at
    * least one verbatim `n`-token window with ANY reference doc —
    * no jaccard threshold, no denominator; a single leaked eval
    * question inside a long document must flag it, which a
    * similarity ratio dilutes away. Complements [[screenDocs]] (the
    * jaccard screen) the way D10 exact-substring complements D4.
    * Output: `(doc_id, n_overlap)` = how many of the doc's DISTINCT
    * n-grams sit in the reference set, for flagged docs only.
    *
    * Shape (the [[screenDocsIndexed]] recipe without the pair tail):
    * reference pass — n-gram FNV keys of the `refMod` subset, distinct,
    * budget-guarded bounded collect, broadcast as a sorted long[];
    * corpus pass — ONE typed map per doc binary-searching its
    * distinct gram keys. Zero data shuffles, per-doc bounded state;
    * exact up to 64-bit collisions (the hash-key family contract).
    * Tokenization/gram construction mirrors the oracle exactly
    * ([[CorpusOps.duckTokens]] + space-joined windows).
    */
  def screenNgramOverlap(docsDf: DataFrame,
      n: Int = 13, refMod: Int = 7,
      maxRefGrams: Int = 10000000): DataFrame = {
    require(n >= 2 && n <= 64, s"n out of range: $n")
    require(refMod >= 2, s"refMod must be >= 2: $refMod")
    val spark = docsDf.sparkSession
    import spark.implicits._
    val docs = docsDf
      .select(col("doc_id"), col("text")).as[(Long, String)]
    def gramKeys(t: String): Array[Long] = Dedup.ngramFnvKeys(t, n)
    val refKeys = docs
      .filter(col("doc_id") % refMod === 0)
      .flatMap { case (_, t) => gramKeys(t) }
      .toDF("h").distinct()
      .select(col("h")).as[Long]
      .limit(maxRefGrams + 1)
      .collect()
    require(refKeys.length <= maxRefGrams,
      s"reference n-gram set exceeds maxRefGrams=$maxRefGrams (~8 bytes " +
        "per gram on the driver and in the broadcast: the default 10M ≈ " +
        "80 MB) — an eval reference should be orders of magnitude smaller " +
        "than the corpus, so a breach usually means a mis-specified " +
        "reference subset; raise the budget knowingly if the reference " +
        "really is that large")
    java.util.Arrays.sort(refKeys)
    val bc = spark.sparkContext.broadcast(refKeys)
    docs
      .filter(col("doc_id") % refMod =!= 0)
      .map { case (id, t) =>
        val ks = gramKeys(t)
        var hits = 0L
        var i = 0
        while (i < ks.length) {
          if (java.util.Arrays.binarySearch(bc.value, ks(i)) >= 0)
            hits += 1
          i += 1
        }
        (id, hits)
      }
      .filter(_._2 > 0L)
      .toDF("doc_id", "n_overlap")
      .orderBy(col("doc_id"))
  }

  /** The registered `screen_ngram_overlap` query: random word-soup
    * has no natural verbatim 13-gram collisions, so (the pii_scrub
    * planting precedent) a fixed 13-token phrase is appended to every
    * doc_id ≡ 3 (mod 11) — by CRT that set intersects the reference
    * ids (≡ 0 mod 7), so the phrase legitimately sits in the
    * reference set and each planted non-ref doc gains exactly one
    * overlapping distinct 13-gram... plus the 12 bridge grams its
    * suffix forms with the plant, all absent from refs (their
    * prefixes differ per doc). The oracle builds the identical text.
    */
  def screenNgramOverlapQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val phrase = (0 until 13).map(i => s"ev$i").mkString(" ")
    val planted = documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 11 === 3,
        concat(col("text"), lit(" " + phrase)))
        .otherwise(col("text")).as("text"))
    screenNgramOverlap(planted)
  }

  /** Set the `kHashes` double-hashed bit positions of gram key `h` in
    * `bits` (m = bits.length·64 must be a power of two). Positions
    * derive from TWO splitmix64 remixes of the one FNV gram key
    * (g_i = h1 + i·h2 — Kirsch–Mitzenmacher double hashing; h2 forced
    * odd so every stride is a unit mod the power-of-two m), so D18's
    * build and probe share D13's exact gram identity.
    */
  @inline private def bloomMix(x: Long): Long = {
    var h = x + 0x9e3779b97f4a7c15L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  private def bloomSet(bits: Array[Long], h: Long, kHashes: Int): Unit = {
    val mMask = bits.length.toLong * 64L - 1L
    val h1 = bloomMix(h)
    val h2 = bloomMix(h ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < kHashes) {
      val pos = ((h1 + i.toLong * h2) & mMask).toInt
      bits(pos >>> 6) |= 1L << (pos & 63)
      i += 1
    }
  }

  private def bloomTest(bits: Array[Long], h: Long, kHashes: Int): Boolean = {
    val mMask = bits.length.toLong * 64L - 1L
    val h1 = bloomMix(h)
    val h2 = bloomMix(h ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < kHashes) {
      val pos = ((h1 + i.toLong * h2) & mMask).toInt
      if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** D18 build half — the reference side's `n`-gram Bloom filter as
    * an `mBits`-bit bitmap: per-partition bitmaps OR-merged by
    * treeAggregate (the S7 accumulator shape — no shuffle; the driver
    * receives `numPartitions` bitmaps of mBits/8 bytes and never a
    * gram list), ready to broadcast to the batch probe, a streaming
    * probe, or tomorrow's ingest job.
    */
  def ngramBloomBuild(refDocs: DataFrame, n: Int = 13,
      mBits: Int = 1 << 23, kHashes: Int = 4): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64: $mBits")
    require(kHashes >= 1 && kHashes <= 16, s"kHashes out of range: $kHashes")
    val spark = refDocs.sparkSession
    import spark.implicits._
    refDocs.select(col("text")).as[String]
      .rdd.treeAggregate(new Array[Long](mBits / 64))(
        seqOp = { (bits, t) =>
          // self-calls qualified: an unqualified call captures the
          // (non-serializable) module as the closure's `this`
          val ks = Dedup.ngramFnvKeys(t, n)
          var i = 0
          while (i < ks.length) {
            Dedup.bloomSet(bits, ks(i), kHashes); i += 1
          }
          bits
        },
        combOp = { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) |= b(i); i += 1 }
          a
        })
  }

  /** D18 — BLOOM-FILTERED n-GRAM SCREEN (r15): the memory-bounded
    * 100 TB shape of D13. D13 broadcasts the reference's distinct
    * gram keys verbatim — right for eval decontamination (10M grams
    * ≈ 80 MB) but impossible when the "reference" is itself
    * corpus-scale (screening a new crawl against every n-gram of a
    * previously released corpus). The Bloom filter holds the same
    * membership test in `mBits` bits with ONE-SIDED error: a present
    * gram ALWAYS hits (no false negative — every doc the exact
    * screen flags, this screen flags; the decontamination guarantee
    * survives compression), an absent gram false-positives at
    * ≈ (set-bit fraction)^kHashes — over-flagging costs corpus
    * yield, never leaks a reference document. At the registered
    * parameters (2^23 bits, k=4, ~13k reference grams → ~0.6% bits
    * set) the FP probability per gram is ~1e-9, so the output is
    * deterministically identical to D13's on this fixture and the
    * SAME oracle hash-checks it; the spec additionally pins the
    * subset guarantee under a deliberately undersized filter where
    * false positives DO fire.
    *
    * Probe: stateless per-doc map against the broadcast bitmap
    * (`n_overlap` counts the doc's DISTINCT grams that hit — ≥ the
    * exact count by one-sidedness). Zero shuffles either side.
    */
  def screenNgramBloom(docsDf: DataFrame,
      n: Int = 13, refMod: Int = 7,
      mBits: Int = 1 << 23, kHashes: Int = 4): DataFrame = {
    require(n >= 2 && n <= 64, s"n out of range: $n")
    require(refMod >= 2, s"refMod must be >= 2: $refMod")
    val spark = docsDf.sparkSession
    val bits = ngramBloomBuild(
      docsDf.filter(col("doc_id") % refMod === 0), n, mBits, kHashes)
    screenNgramBloomWith(
      docsDf.filter(col("doc_id") % refMod =!= 0), bits, n, kHashes)
  }

  /** Per-doc DISTINCT-gram Bloom hit count — THE shared probe kernel
    * of the batch screen and the X26 streaming face (one definition,
    * both faces).
    */
  def bloomHitCount(bits: Array[Long], t: String,
      n: Int = 13, kHashes: Int = 4): Long = {
    val ks = ngramFnvKeys(t, n)
    var hits = 0L
    var i = 0
    while (i < ks.length) {
      if (bloomTest(bits, ks(i), kHashes)) hits += 1
      i += 1
    }
    hits
  }

  /** D18 probe half against a prebuilt bitmap. */
  def screenNgramBloomWith(docsDf: DataFrame, bits: Array[Long],
      n: Int = 13, kHashes: Int = 4): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bits)
    docsDf.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, Dedup.bloomHitCount(bc.value, t, n, kHashes))
      }
      .filter(_._2 > 0L)
      .toDF("doc_id", "n_overlap")
      .orderBy(col("doc_id"))
  }

  /** The registered `screen_ngram_bloom` query: the D13 planted
    * fixture pushed through the Bloom screen — at the registered
    * filter size the output is deterministically identical to the
    * exact screen's (see [[screenNgramBloom]]), so the D13 oracle
    * hash-checks it.
    */
  def screenNgramBloomQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val phrase = (0 until 13).map(i => s"ev$i").mkString(" ")
    val planted = documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 11 === 3,
        concat(col("text"), lit(" " + phrase)))
        .otherwise(col("text")).as("text"))
    screenNgramBloom(planted)
  }

  /** 2^52 — the exact-in-a-double md5-prefix key space the T8/T40
    * selection keys live in; the holdout threshold compares against
    * it with exact integer cross-multiplication.
    */
  private val Md5KeySpace = 1L << 52

  /** The D20 holdout membership flag as a pure Column: first 13 hex
    * of `md5(seed ":" doc_id)` as a 52-bit long (the T8/T44 seeded
    * md5-order convention — a function of the id only, so the split
    * never re-hashes text and a backfill reproduces it bit-for-bit),
    * eval ⟺ key·den < num·2^52 (exact integer cross-multiplication;
    * the expected eval fraction is num/den). ONE definition for the
    * batch carve, the Bloom carve and any streaming face.
    */
  private[graft] def holdoutFlag(seed: String, evalNum: Long,
      evalDen: Long): Column =
    conv(substring(md5(concat(lit(seed + ":"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long") *
      lit(evalDen) < lit(evalNum * Md5KeySpace)

  private def requireCarveParams(evalNum: Long, evalDen: Long,
      n: Int): Unit = {
    require(evalNum >= 1 && evalDen >= 2 && evalNum < evalDen,
      s"eval fraction must be a proper fraction: $evalNum/$evalDen")
    require(evalDen <= 2048,
      s"evalDen too large for exact 52-bit cross-multiplication: $evalDen")
    require(n >= 2 && n <= 64, s"n out of range: $n")
  }

  /** The carve's classification scan: every doc gets exactly one row
    * — `eval` (held out), `contaminated` (a train doc sharing ≥ 1
    * verbatim n-gram with the holdout — the GPT-3 §2.2 leak), or
    * `train`. `hits` is the caller's gram-membership counter (exact
    * binary search or Bloom probe — ONE classification definition,
    * both paths).
    */
  private def carveClassify(ds: org.apache.spark.sql.Dataset[
      (Long, String, Boolean)], hits: String => Long): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { case (id, t, ev) =>
        if (ev) (id, "eval", 0L)
        else {
          val h = hits(t)
          (id, if (h > 0L) "contaminated" else "train", h)
        }
      }
      .toDF("doc_id", "role", "n_overlap")
      .orderBy(col("doc_id"))
  }

  /** The (doc_id, text, is_eval) frame both carve paths scan. The
    * flag is a DETERMINISTIC function of doc_id (md5 prefix), so the
    * two consumers (holdout gram mine + classification scan) always
    * observe the same split — no checkpoint needed, unlike the
    * nondeterministic-screen triple-consumer case D17 guards.
    */
  private def holdoutSplit(docsDf: DataFrame, seed: String,
      evalNum: Long, evalDen: Long): org.apache.spark.sql.Dataset[
      (Long, String, Boolean)] = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    docsDf.select(col("doc_id"), col("text"),
        holdoutFlag(seed, evalNum, evalDen).as("is_eval"))
      .as[(Long, String, Boolean)]
  }

  /** D20 — DECONTAMINATED EVAL HOLDOUT CARVE (the GPT-3 §2.2 /
    * published-eval protocol, run as ONE operator so the split and
    * the decontamination can never drift apart): carve a seeded
    * ~num/den holdout by md5-prefix of doc_id, then flag every TRAIN
    * document sharing at least one verbatim `n`-token window with ANY
    * holdout document — training on those would leak the eval set.
    * Downstream: `eval` rows become the benchmark, `train` rows the
    * corpus, `contaminated` rows are dropped (or quarantined for the
    * data card).
    *
    * Scale shape: the holdout is a small fraction by construction, so
    * its distinct gram keys take D13's budget-guarded bounded collect
    * (loud `maxEvalGrams`) + sorted-long[] broadcast; classification
    * is ONE zero-shuffle typed map over the corpus. When the holdout
    * still outgrows the broadcast (corpus-scale holdouts), use
    * [[holdoutCarveBloom]] — same split, same one-sided guarantee,
    * mBits/8 bytes regardless of holdout size.
    */
  def holdoutCarve(docsDf: DataFrame, seed: String = "7",
      evalNum: Long = 1, evalDen: Long = 10, n: Int = 13,
      maxEvalGrams: Int = 10000000): DataFrame = {
    requireCarveParams(evalNum, evalDen, n)
    val spark = docsDf.sparkSession
    import spark.implicits._
    val ds = holdoutSplit(docsDf, seed, evalNum, evalDen)
    val evalKeys = ds.filter(col("is_eval"))
      .flatMap { case (_, t, _) => Dedup.ngramFnvKeys(t, n) }
      .toDF("h").distinct()
      .select(col("h")).as[Long]
      .limit(maxEvalGrams + 1)
      .collect()
    require(evalKeys.length <= maxEvalGrams,
      s"holdout n-gram set exceeds maxEvalGrams=$maxEvalGrams (~8 bytes " +
        "per gram on the driver and in the broadcast) — shrink the eval " +
        "fraction, raise the budget knowingly, or switch to " +
        "holdoutCarveBloom (bounded memory at any holdout size)")
    java.util.Arrays.sort(evalKeys)
    val bc = spark.sparkContext.broadcast(evalKeys)
    carveClassify(ds, { t =>
      val ks = Dedup.ngramFnvKeys(t, n)
      var hits = 0L
      var i = 0
      while (i < ks.length) {
        if (java.util.Arrays.binarySearch(bc.value, ks(i)) >= 0)
          hits += 1
        i += 1
      }
      hits
    })
  }

  /** D20b — the carve with the holdout gram set held as a D18 Bloom
    * bitmap (mBits/8 bytes at ANY holdout size; per-partition
    * treeAggregate build, the driver never sees a gram list). The
    * error is one-sided in the SAFE direction: a present gram always
    * hits, so a genuinely contaminated train doc can NEVER be
    * classified `train` — false positives only over-quarantine. At
    * the registered parameters the output is deterministically
    * identical to [[holdoutCarve]]'s, so the SAME oracle statement
    * hash-checks both (the D18 precedent).
    */
  def holdoutCarveBloom(docsDf: DataFrame, seed: String = "7",
      evalNum: Long = 1, evalDen: Long = 10, n: Int = 13,
      mBits: Int = 1 << 23, kHashes: Int = 4): DataFrame = {
    requireCarveParams(evalNum, evalDen, n)
    val spark = docsDf.sparkSession
    val ds = holdoutSplit(docsDf, seed, evalNum, evalDen)
    val bits = ngramBloomBuild(ds.filter(col("is_eval"))
      .toDF("doc_id", "text", "is_eval"), n, mBits, kHashes)
    val bc = spark.sparkContext.broadcast(bits)
    carveClassify(ds,
      t => Dedup.bloomHitCount(bc.value, t, n, kHashes))
  }

  /** The registered `holdout_carve` / `holdout_carve_bloom` fixture:
    * random word-soup shares no natural verbatim 13-grams across the
    * split, so (the D13 planting precedent) a fixed 13-token phrase
    * is appended to every doc_id ≡ 3 (mod 5) — dense enough that the
    * ~10% md5 holdout deterministically catches planted docs at
    * sf0.01 AND sf0.001, making both the holdout gram set and the
    * contaminated class non-vacuous (spec-asserted). The oracle
    * builds the identical text and split in SQL.
    *
    * `mod` widens the face for the 100× probe's SPARSE leak rows
    * (doc_id ≡ 3 mod 1000 ≈ the realistic benchmark-leak rate) —
    * one definition, so the probe's share/broadcast A/B provably
    * plants the same corpus as the registered mod-5 fixture.
    */
  private[graft] def holdoutPlanted(spark: SparkSession,
      sfDir: String, mod: Int = 5): DataFrame = {
    val phrase = (0 until 13).map(i => s"hv$i").mkString(" ")
    documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % mod === 3,
        concat(col("text"), lit(" " + phrase)))
        .otherwise(col("text")).as("text"))
  }

  def holdoutCarveQuery(spark: SparkSession, sfDir: String): DataFrame =
    holdoutCarve(holdoutPlanted(spark, sfDir))

  /** Minimal open-addressed long→long counter for the D21 hot
    * flatMap (the HashKernels.LongToIntMap precedent): primitive
    * arrays, linear probing, doubling at 1/2 load. The former
    * `java.util.HashMap[Long, Long]` boxed key AND value on every
    * `merge`, and in leak-heavy regimes this per-train-doc loop
    * dominates the whole report (the 51 s probe row).
    */
  private final class LongCounter(expected: Int) {
    private var cap = { var c = 8; while (c < expected * 2) c <<= 1; c }
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var counts = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    def size: Int = n
    private def slot(key: Long): Int = {
      val x = key * -0x61c8864680b583ebL // fibonacci mix
      var h = ((x >>> 32) ^ x).toInt & mask
      while (used(h) && keys(h) != key) h = (h + 1) & mask
      h
    }
    def increment(key: Long): Unit = {
      var h = slot(key)
      if (!used(h)) {
        if ((n + 1) * 2 > cap) { grow(); h = slot(key) }
        used(h) = true; keys(h) = key; counts(h) = 0L; n += 1
      }
      counts(h) += 1
    }
    private def grow(): Unit = {
      val ok = keys; val oc = counts; val ou = used; val ocap = cap
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap)
      counts = new Array[Long](cap)
      used = new Array[Boolean](cap)
      var i = 0
      while (i < ocap) {
        if (ou(i)) {
          val h = slot(ok(i))
          used(h) = true; keys(h) = ok(i); counts(h) = oc(i)
        }
        i += 1
      }
    }
    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (used(i)) f(keys(i), counts(i))
        i += 1
      }
    }
  }

  /** D21 — CONTAMINATION REPORT (the reverse-direction aggregation of
    * D20, per HOLDOUT doc: "which benchmark items leaked, and how
    * badly?" — the table an eval maintainer publishes, where D13/D20
    * answer the train-side question "which docs must I drop"): for
    * every holdout document that leaks, the number of distinct train
    * documents sharing ≥ 1 verbatim `n`-gram with it and the total
    * (train doc, shared gram) hit count. An eval item with
    * `n_dirty_docs` in the thousands is effectively public and should
    * be retired — dropping the train docs is not enough.
    *
    * Scale shape: the holdout side mines DISTINCT (gram key, eval id)
    * pairs under the D13 loud budget and broadcasts them as parallel
    * sorted arrays (a gram with several eval owners repeats, owners
    * adjacent); ONE typed flatMap over train docs emits each
    * (eval id, train id, gram) hit — pair volume is bounded by actual
    * leakage, not corpus size — and one tiny groupBy(eval) aggregates.
    * Text never shuffles.
    */
  def contaminationReport(docsDf: DataFrame, seed: String = "7",
      evalNum: Long = 1, evalDen: Long = 10, n: Int = 13,
      maxEvalEntries: Int = 10000000): DataFrame = {
    requireCarveParams(evalNum, evalDen, n)
    val spark = docsDf.sparkSession
    import spark.implicits._
    val ds = holdoutSplit(docsDf, seed, evalNum, evalDen)
    val entries = ds.filter(col("is_eval"))
      .flatMap { case (id, t, _) =>
        Dedup.ngramFnvKeys(t, n).map(h => (h, id))
      }
      .toDF("h", "eval_id").distinct()
      .as[(Long, Long)]
      .limit(maxEvalEntries + 1)
      .collect()
    require(entries.length <= maxEvalEntries,
      s"holdout (gram, owner) set exceeds maxEvalEntries=$maxEvalEntries " +
        "(~16 bytes per entry on the driver and in the broadcast) — " +
        "shrink the eval fraction or raise the budget knowingly")
    val sortedEntries = entries.sorted
    val keys = sortedEntries.map(_._1)
    val owners = sortedEntries.map(_._2)
    val bcK = spark.sparkContext.broadcast(keys)
    val bcO = spark.sparkContext.broadcast(owners)
    ds.filter(!col("is_eval"))
      .flatMap { case (trainId, t, _) =>
        val ks = Dedup.ngramFnvKeys(t, n)
        // pre-aggregate per (owner, this train doc) BEFORE the
        // exchange: a heavily-leaked eval doc shares many grams with
        // one train doc, and emitting per gram would put
        // (shared grams × pairs) rows on the wire where
        // (pairs + local counts) carries the same aggregate
        val hits = new LongCounter(8)
        var i = 0
        while (i < ks.length) {
          var j = java.util.Arrays.binarySearch(bcK.value, ks(i))
          if (j >= 0) {
            // walk to the first equal key, then count every owner
            while (j > 0 && bcK.value(j - 1) == ks(i)) j -= 1
            while (j < bcK.value.length && bcK.value(j) == ks(i)) {
              hits.increment(bcO.value(j))
              j += 1
            }
          }
          i += 1
        }
        val out = new Array[(Long, Long, Long)](hits.size)
        var k = 0
        hits.foreach { (owner, cnt) =>
          out(k) = (owner, trainId, cnt)
          k += 1
        }
        out.toSeq
      }
      .toDF("eval_id", "train_id", "hits")
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_dirty_docs"),
        sum(col("hits")).as("n_hits"))
      .orderBy(col("eval_id"))
  }

  /** The registered `contamination_report` query — the D20 planted
    * fixture viewed from the holdout side: every planted eval doc
    * owns the hv phrase's pure window and reports ALL planted train
    * docs as dirty (spec'd coherent with `holdoutCarve`'s
    * contaminated set).
    */
  def contaminationReportQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    contaminationReport(holdoutPlanted(spark, sfDir))

  /** D21b — the NEVER-COLLECTS shuffle shape of the contamination
    * report, for holdouts whose (gram, owner) set breaches
    * [[contaminationReport]]'s driver/broadcast budget (the
    * substringScrub → substringScrubJoin duality; D20 already has
    * its unbounded path in the D20b Bloom carve, this closes the
    * report's):
    *
    *  1. holdout postings `(h, eval_id)` — per-doc-DISTINCT 13-gram
    *     keys (ngramFnvKeys dedupes per doc), kept distinct across
    *     docs by the same defensive `distinct()` the broadcast path
    *     applies; holdout-fraction-sized, never collected;
    *  2. train emissions `(h, train_id)` — the same per-doc-distinct
    *     keys, one row per (gram, train doc), PRE-FILTERED through a
    *     D18 Bloom bitmap of the holdout grams (treeAggregate build,
    *     mBits/8 bytes, no collect — the never-collects property
    *     holds): at realistic leak rates the corpus-sized exchange
    *     shrinks to ~leakage + the false-positive trickle, and a
    *     false positive merely rides to the join and drops there, so
    *     the output is EXACT regardless of filter saturation;
    *  3. equi-join on the 8-byte key — the ONLY corpus-sized
    *     exchange, and it carries two longs per row, never text;
    *  4. partial-agged `groupBy(eval_id, train_id).count()` — the
    *     map-side combine bounds the second exchange by actual
    *     leakage pairs, the moral twin of the broadcast path's
    *     per-train LongCounter pre-aggregation;
    *  5. the same per-eval aggregate as the broadcast path.
    *
    * Output identical to [[contaminationReport]] by construction
    * (the registered face shares its oracle statement; DedupSpec
    * pins row equality on the planted fixture). Prefer the broadcast
    * shape whenever the holdout fits its budget — it touches the
    * corpus with a zero-shuffle map.
    */
  def contaminationReportJoin(docsDf: DataFrame, seed: String = "7",
      evalNum: Long = 1, evalDen: Long = 10, n: Int = 13,
      mBits: Int = 1 << 23, kHashes: Int = 4,
      share: Boolean = true): DataFrame = {
    requireCarveParams(evalNum, evalDen, n)
    val spark = docsDf.sparkSession
    import spark.implicits._
    // the split feeds THREE consumers (Bloom build, eval postings,
    // train emissions); under `share` it materializes ONCE (the
    // P1/D17 localCheckpoint convention) instead of re-scanning the
    // corpus + re-deriving the md5 split per consumer — the shape
    // exists for corpus-scale holdouts, where two extra full-text
    // scans are exactly the cost it was built to avoid (the r16
    // verdict's #3). share = false keeps the pure-recompute plan for
    // the equivalence spec. FAULT TOLERANCE: localCheckpoint blocks
    // live on executors only — an executor loss mid-run fails the
    // query where the recompute plan would retry; see the
    // graft.operators.Pipeline contract (SURVEY §5) for cluster
    // guidance.
    val ds0 = holdoutSplit(docsDf, seed, evalNum, evalDen)
    val ds = if (share) graft.plans.Lineage.truncate(ds0) else ds0
    val bits = ngramBloomBuild(ds.filter(col("is_eval"))
      .toDF("doc_id", "text", "is_eval"), n, mBits, kHashes)
    val bcBits = spark.sparkContext.broadcast(bits)
    val evalPost = ds.filter(col("is_eval"))
      .flatMap { case (id, t, _) =>
        Dedup.ngramFnvKeys(t, n).map(h => (h, id))
      }
      .toDF("h", "eval_id").distinct()
    val trainPost = ds.filter(!col("is_eval"))
      .flatMap { case (id, t, _) =>
        Dedup.ngramFnvKeys(t, n).iterator
          .filter(h => Dedup.bloomTest(bcBits.value, h, kHashes))
          .map(h => (h, id))
      }
      .toDF("h", "train_id")
    trainPost.join(evalPost, Seq("h"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("hits"))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_dirty_docs"),
        sum(col("hits")).as("n_hits"))
      .orderBy(col("eval_id"))
  }

  /** Registered `contamination_report_join` — the never-collects
    * shape over the same planted fixture, hash-checked by the SAME
    * oracle statement as `contamination_report` (the
    * sentence_span_scrub_join precedent).
    */
  def contaminationReportJoinQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    contaminationReportJoin(holdoutPlanted(spark, sfDir))

  def holdoutCarveBloomQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    holdoutCarveBloom(holdoutPlanted(spark, sfDir))

  /** The D19 64-bit Bloom key of a canonical fingerprint: its first
    * 16 hex digits as an unsigned long — a pure function of the D1
    * fingerprint string, ONE definition for the build half, the batch
    * probe and the X27 ingest probe.
    */
  @inline private[graft] def fpBloomKeyOfFp(fpHex: String): Long =
    java.lang.Long.parseUnsignedLong(fpHex.substring(0, 16), 16)

  /** The D1 canonical fingerprint computed JVM-side — the SAME
    * kernel the `canonical_md5` Column face runs
    * ([[graft.functions.HashKernels.canonicalMd5]]), so typed
    * streaming maps and column-space batch plans share one identity.
    */
  @inline private[graft] def canonicalFpOf(t: String): String =
    graft.functions.HashKernels.canonicalMd5(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)).toString

  /** D19 build half — the RELEASED corpus's canonical-fingerprint
    * Bloom bitmap: ONE key per document (vs D18's one per n-gram),
    * per-partition bitmaps OR-merged by treeAggregate (no shuffle,
    * the driver never holds a fingerprint list). At 100 TB the exact
    * fingerprint set itself outgrows any broadcast (~16 B × docs);
    * the bitmap holds the same membership test in mBits bits with
    * ONE-SIDED error — a released document ALWAYS hits, so a
    * duplicate of the released corpus can never be admitted;
    * absences false-positive at ≈ (set-bit fraction)^k, which
    * over-drops fresh pages but never leaks a duplicate.
    */
  def fpBloomBuild(refDocs: DataFrame, mBits: Int = 1 << 23,
      kHashes: Int = 4): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64: $mBits")
    require(kHashes >= 1 && kHashes <= 16, s"kHashes out of range: $kHashes")
    val spark = refDocs.sparkSession
    import spark.implicits._
    refDocs.select(col("text")).as[String]
      .rdd.treeAggregate(new Array[Long](mBits / 64))(
        seqOp = { (bits, t) =>
          Dedup.bloomSet(bits,
            Dedup.fpBloomKeyOfFp(Dedup.canonicalFpOf(t)), kHashes)
          bits
        },
        combOp = { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) |= b(i); i += 1 }
          a
        })
  }

  /** D19 membership probe of one fingerprint — THE shared kernel of
    * the batch screen and the X27 streaming admission.
    */
  def fpBloomHitFp(bits: Array[Long], fpHex: String,
      kHashes: Int = 4): Boolean =
    bloomTest(bits, fpBloomKeyOfFp(fpHex), kHashes)

  /** D19 probe half against a prebuilt fingerprint bitmap: emits the
    * docs whose canonical fingerprint is (possibly) in the released
    * corpus — the ones an ingest job must NOT admit. At the
    * registered parameters the false-positive mass is ≈ 0 over the
    * corpus, so the output is deterministically the exact fp
    * semi-join and the oracle hash-checks it.
    */
  def screenExactBloomWith(docsDf: DataFrame, bits: Array[Long],
      kHashes: Int = 4): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bits)
    docsDf.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val fp = Dedup.canonicalFpOf(t)
        (id, fp, Dedup.fpBloomHitFp(bc.value, fp, kHashes))
      }
      .filter(_._3)
      .toDF("doc_id", "fp", "hit")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** The registered `dedup_exact_bloom` query: ref = every doc_id ≡ 0
    * (mod 7) (the released corpus); probe = the rest, with doc_id ≡ 4
    * (mod 11) REPLACED by the text of the previous multiple of 7
    * (always in ref — the planted exact duplicates). The flagged set
    * is exactly the planted ids, stated as the fp semi-join in the
    * oracle.
    */
  def dedupExactBloomQuery(spark: SparkSession, sfDir: String,
      mBits: Int = 1 << 23): DataFrame = {
    val docs = documents(spark, sfDir)
    val base = docs.select(col("doc_id").as("bid"),
      col("text").as("btext"))
    val probe = docs.filter(col("doc_id") % 7 =!= 0)
      .join(base, col("bid") === expr("(doc_id div 7) * 7"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 4, col("btext"))
          .otherwise(col("text")).as("text"))
    val bits = fpBloomBuild(docs.filter(col("doc_id") % 7 === 0),
      mBits)
    screenExactBloomWith(probe, bits)
  }

  // ---- shared pieces of the two screen shapes ----

  /** No size(keys) > 0 pre-filter: the postings flatMap emits nothing
    * for an empty key array, and a pushed-down filter would run the
    * kernel a second time per row (the PushPredicateThroughNonJoin
    * alias-substitution trap the streaming-path audit caught).
    */
  private def shingleKeyed(df: DataFrame): DataFrame = {
    import graft.functions.HashFunctions._
    df.select(col("doc_id"),
      shingle_keys(col("text"), lit(""), 3).as("keys"))
  }

  private val packMask = (1L << 20) - 1

  /** Overflow guards for the (id << 20 | n_keys) pack: 20 bits budget
    * the shingle count, 43 the id (bit 63 stays clear so shiftright
    * is sign-safe). A doc with ≥ 2^20 distinct 3-gram shingles
    * (~multi-MB text) or an id outside [0, 2^43) would silently
    * corrupt doc_id/ref_id and jaccard — fail loudly instead; callers
    * with such docs must pre-chunk them (Multimodal.chunkBytes-style)
    * or widen the pack to two words.
    */
  private def packedOf(id: Long, nKeys: Int): Long = {
    require(nKeys < (1 << 20),
      s"doc $id has $nKeys distinct shingles >= 2^20: packed " +
        "posting would overflow; pre-chunk oversized documents")
    require(id >= 0 && id < (1L << 43),
      s"doc_id $id outside [0, 2^43): packed posting would overflow")
    (id << 20) | nKeys.toLong
  }

  /** (shingle, id << 20 | n_keys) postings via typed flatMap — NOT
    * explode(): Catalyst re-evaluates a computed array per OUTPUT row
    * under Generate. Packing keeps every shuffle/broadcast row two
    * plain longs; shingle_keys output is distinct per doc, so a join
    * hit count IS the intersection size.
    */
  private def packedPostings(df: DataFrame, out: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Long])]
      .flatMap { case (id, keys) =>
        val packed = packedOf(id, keys.length)
        keys.map(h => (h, packed))
      }
      .toDF("shingle", out)
  }

  /** Reference postings aggregated into one (shingle, member-list)
    * row per shingle: the df cap applies there, the broadcast/index
    * shrinks (one row per distinct shingle), and the fan-out per
    * corpus posting is bounded by maxRefDf (standard stop-shingle
    * treatment — a shingle present in thousands of reference docs is
    * boilerplate, not contamination signal; the 100× probe caught
    * exactly this blow-up). Dropped shingles are observable via the
    * `contamination_ref_cap` metric.
    */
  private def refListsOf(docs: DataFrame, refMod: Int,
      maxRefDf: Int): DataFrame =
    // parallelism floor: spread the DOC rows before the ~200× shingle
    // fan-out and the kernel — the 100× probe's 2-split scan left one
    // task spill-sorting for 20+ min while 31 sat idle
    packedPostings(shingleKeyed(
        Spread.spreadIfNarrow(docs.filter(col("doc_id") % refMod === 0))),
        "r")
      .groupBy(col("shingle"))
      .agg(collect_list(col("r")).as("rs"))
      // NOTE: observe rows are ERASED by AQE when the FINAL result is
      // empty (AQEPropagateEmptyRelation drops the executed
      // CollectMetrics from the plan observedMetrics walks) — the
      // metric is best-effort on empty output; see the canonical
      // caveat + spec pin on Similarity.simJoinLsh.
      .observe("contamination_ref_cap",
        sum(when(size(col("rs")) > maxRefDf, 1L).otherwise(0L))
          .as("dropped_shingles"))
      .filter(size(col("rs")) <= maxRefDf)

  /** The broadcast-JOIN screen shape: corpus postings
    * broadcast-hash-join the per-shingle reference member lists,
    * intersections fall out of a count per (doc, ref) pair. Work ∝
    * Σ matching ref-df. This is the fallback for a reference set too
    * large to index on the driver — the BroadcastExchange degrades
    * gracefully to a shuffled hash join if the hint is dropped, still
    * ∝ postings. Prefer [[screenDocsIndexed]] (the default) for
    * eval-suite-sized references: same result, no (doc, ref) hash
    * aggregation — the 100× probe measured the agg hash table (3.6 B
    * input rows) spilling as THE dominant cost of this shape.
    */
  def screenDocsJoin(docs: DataFrame, threshold: Double = 0.05,
      refMod: Int = 7, maxRefDf: Int = 1000): DataFrame = {
    require(threshold > 0,
      s"threshold must be > 0 (got $threshold): zero-intersection pairs " +
        "cannot materialize from inverted postings; use a cross join if " +
        "you genuinely need every corpus x ref pair")
    val nMask = packMask
    val refLists = refListsOf(docs, refMod, maxRefDf)
    packedPostings(shingleKeyed(Spread.spreadIfNarrow(docs)), "d")
      .join(broadcast(refLists), "shingle")
      // NOTE: no (doc, member-list) multiplicity collapse before this
      // explode — measured at the 100× probe, corpus shingles have
      // avg reference-df ~10 with DISTINCT doc subsets per shingle,
      // so list-keyed pre-aggregation collapses almost nothing while
      // shuffling ~1 KB array keys per join hit (it OOMed where the
      // plain shape completes). The jaccardPairs collapse works there
      // because LSH bucket member lists are near-identical; here they
      // are not. Work is inherently Σ matching ref-df per corpus
      // posting — near-linear in corpus size × avg df, vs the BNLJ's
      // Θ(corpus × refs) full-array intersections.
      .select(col("d"), explode(col("rs")).as("r"))
      // same id ⇒ same packed word (identical key count); cheap long
      // inequality replaces the doc_id != ref_id predicate
      .filter(col("d") =!= col("r"))
      .groupBy(col("d"), col("r"))
      .agg(count(lit(1)).as("inter"))
      .select(shiftright(col("d"), 20).as("doc_id"),
        shiftright(col("r"), 20).as("ref_id"),
        (col("inter").cast("double") /
          (col("d").bitwiseAND(lit(nMask)) + col("r").bitwiseAND(lit(nMask))
            - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_id"), col("ref_id"))
  }

  /** A compact immutable shingle → packed-ref-postings index: open
    * addressing over power-of-2 primitive arrays (CSR layout). Only
    * primitive arrays ride the broadcast — no boxed Longs, no HashMap
    * node overhead — and lookups are 1–2 probes. `len == 0` marks an
    * empty slot, so key 0 needs no sentinel.
    */
  private[operators] final class RefIndex(
      keys: Array[Long], off: Array[Int], len: Array[Int],
      postings: Array[Long]) extends Serializable {
    @inline private def slotOf(k: Long): Int = {
      val mask = keys.length - 1
      // splitmix64 finalizer: shingle keys are already hashes, but
      // re-mixing guards against banding structure in the key space
      var h = k + 0x9e3779b97f4a7c15L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var s = ((h ^ (h >>> 31)) & mask).toInt
      while (len(s) != 0 && keys(s) != k) s = (s + 1) & mask
      s
    }
    /** Append the postings of `k` (if any) into `buf` starting at
      * `n`, skipping `self`; returns the new fill. `buf` must have
      * room for `maxLen` more entries.
      */
    def hitsInto(k: Long, self: Long, buf: Array[Long], n: Int): Int = {
      val s = slotOf(k)
      var m = n
      if (len(s) != 0) {
        val o = off(s); val e = o + len(s)
        var i = o
        while (i < e) {
          val r = postings(i)
          if (r != self) { buf(m) = r; m += 1 }
          i += 1
        }
      }
      m
    }
    def maxLen: Int = if (len.isEmpty) 0 else len.max
    def nPostings: Int = postings.length
  }

  private[operators] object RefIndex {
    def build(rows: Array[(Long, Array[Long])]): RefIndex = {
      // capacity bound: cap is an Int power of two, so the largest
      // reachable table is 2^30 slots — keys must fit half of it or
      // the doubling loop overflows (2^30 << 1 → Int.MinValue → 0)
      // and spins forever. ≤ 2^29 keys guarantees cap tops out at
      // 2^30 ≥ 2·keys; fail loudly past that.
      require(rows.length <= (1 << 29),
        s"reference index keys (${rows.length}) exceed 2^29: use " +
          "screenDocsJoin for references this large")
      var cap = 4
      while (cap < rows.length.toLong * 2) cap <<= 1
      val keys = new Array[Long](cap)
      val off = new Array[Int](cap)
      val len = new Array[Int](cap)
      val total = rows.iterator.map(_._2.length.toLong).sum
      require(total <= Int.MaxValue,
        s"reference index postings ($total) exceed 2^31: use " +
          "screenDocsJoin for references this large")
      val postings = new Array[Long](total.toInt)
      val mask = cap - 1
      var p = 0
      rows.foreach { case (k, rs) =>
        var h = k + 0x9e3779b97f4a7c15L
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        var s = ((h ^ (h >>> 31)) & mask).toInt
        while (len(s) != 0) s = (s + 1) & mask
        keys(s) = k; off(s) = p; len(s) = rs.length
        System.arraycopy(rs, 0, postings, p, rs.length)
        p += rs.length
      }
      new RefIndex(keys, off, len, postings)
    }
  }

  /** The INDEXED screen shape (default): the df-capped per-shingle
    * reference member lists are collected into a compact primitive
    * index (the same payload the join form's BroadcastExchange
    * collects to the driver anyway) and broadcast; one typed flatMap
    * over corpus docs then gathers each doc's matching packed refs,
    * sorts them and run-length-counts intersections — per-DOC bounded
    * state, emitted pairs already jaccard-filtered.
    *
    * Why not the join + groupBy(doc, ref) count: the aggregation
    * hash table there spans a whole partition (thousands of docs ×
    * their distinct refs) and spills; at the 100× probe the 3.6 B-row
    * agg ran at ~136 k rows/s/core. Here the same 3.6 B increments
    * land in a per-doc array (avg Σdf per doc ≈ thousands) sorted
    * with a primitive Arrays.sort — no table, no spill, and the
    * shuffle disappears entirely (only the final orderBy exchanges,
    * carrying already-filtered pairs).
    *
    * Scale contract: the INDEX must fit the driver AND executor heaps
    * — Σ capped ref postings ≤ `maxPostings` (default 100 M longs ≈
    * 800 MB packed; an eval-suite reference: 100 k docs × ~200
    * shingles ≈ 20 M longs ≈ 160 MB, fine). The budget is checked
    * with a bounded aggregation BEFORE anything is collected — the
    * former 2^31 backstop alone allowed a ~16 GiB driver collect to
    * start and OOM instead of failing loudly. For references past the
    * budget use [[screenDocsJoin]], whose broadcast degrades to a
    * shuffled hash join.
    */
  def screenDocsIndexed(docs: DataFrame, threshold: Double = 0.05,
      refMod: Int = 7, maxRefDf: Int = 1000,
      maxPostings: Long = 100000000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(threshold > 0,
      s"threshold must be > 0 (got $threshold): zero-intersection pairs " +
        "cannot materialize from inverted postings; use a cross join if " +
        "you genuinely need every corpus x ref pair")
    require(maxPostings > 0 && maxPostings <= Int.MaxValue,
      s"maxPostings must be in 1..2^31-1, got $maxPostings")
    // the one sanctioned driver collect (IVF-fit precedent): the
    // postings budget is verified on a CACHED ref-list frame first
    // (the size agg materializes the cache; the collect reads it —
    // no second derivation), so an oversized reference fails before
    // a single row reaches the driver. The observe() drop metric
    // fires on the agg action exactly as it did on the former
    // collect-first shape.
    val refDf = refListsOf(docs, refMod, maxRefDf).persist()
    val refRows =
      try {
        val total = Option(refDf.select(
            sum(size(col("rs"))).cast("long")).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        require(total <= maxPostings,
          s"reference index postings ($total) exceed the maxPostings " +
            s"budget ($maxPostings): raise it (driver must hold ~8 bytes " +
            "per posting) or use screenDocsJoin for references this large")
        refDf.as[(Long, Array[Long])].collect()
      } finally refDf.unpersist()
    val bc = spark.sparkContext.broadcast(RefIndex.build(refRows))
    val nMask = packMask
    val maxDf = bc.value.maxLen
    shingleKeyed(Spread.spreadIfNarrow(docs))
      .as[(Long, Array[Long])]
      .flatMap { case (id, keys) =>
        val idx = bc.value
        val self = packedOf(id, keys.length)
        // worst-case fill: every key hits a full-df list. Grown lazily
        // from a small default so empty/low-hit docs stay cheap.
        var buf = new Array[Long](math.min(256, maxDf max 1))
        var n = 0
        var i = 0
        while (i < keys.length) {
          if (n + maxDf > buf.length)
            buf = java.util.Arrays.copyOf(buf,
              math.max(buf.length * 2, n + maxDf))
          n = idx.hitsInto(keys(i), self, buf, n)
          i += 1
        }
        if (n == 0) Iterator.empty
        else {
          java.util.Arrays.sort(buf, 0, n)
          val nD = keys.length
          val out = Vector.newBuilder[(Long, Long, Double)]
          var s = 0
          while (s < n) {
            var e = s + 1
            while (e < n && buf(e) == buf(s)) e += 1
            val inter = e - s
            val r = buf(s)
            val nR = (r & nMask).toInt
            val j = inter.toDouble / (nD + nR - inter)
            if (j >= threshold) out += ((id, r >>> 20, j))
            s = e
          }
          out.result().iterator
        }
      }
      .toDF("doc_id", "ref_id", "jaccard")
      .orderBy(col("doc_id"), col("ref_id"))
  }

  /** D4 — exact n-gram Jaccard over blocked candidate pairs (block =
    * source). At 100 TB the block key comes from LSH buckets instead
    * (MinHashDedup); the verification join is identical.
    *
    * Inverted-index formulation, NOT pairwise array_intersect: explode
    * to (shingle, doc) postings, self-join on (source, shingle), count
    * shared shingles per pair. Cost is Σ posting-list² per shingle —
    * sparse-data cheap — instead of block² full-array intersections;
    * pairs sharing zero shingles (jaccard 0) never materialize. The
    * jaccard division is int/int → double: bit-identical in the
    * oracle, which states the same semantics pairwise.
    */
  def jaccardPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.02, maxDf: Int = 100): DataFrame =
    jaccardPairsDocs(documents(spark, sfDir), threshold, maxDf)

  /** [[jaccardPairs]] over an arbitrary `(doc_id, source, text)`
    * frame — the composable core ([[Pipeline.pipelineFull]] feeds it
    * the line-cleaned corpus instead of the raw table).
    */
  def jaccardPairsDocs(docs: DataFrame, threshold: Double = 0.02,
      maxDf: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    // Single scan: shingle set per doc, then postings carrying the
    // doc's set size so no later join back is needed. The explode is
    // a typed flatMap, NOT explode(): Catalyst inlines a computed
    // array into the Generate input and re-evaluates it per OUTPUT
    // row (O(shingles²) per doc — measured 8.6 s vs 1.4 s at sf0.1);
    // flatMap forces one evaluation per input row.
    import spark.implicits._
    // Postings are TWO longs, generated by ONE codegen kernel pass:
    //   key    = shingle_keys(text, source, 3) element — 64-bit
    //            FNV-1a of the shingle with the block key (source)
    //            folded in, so neither the ~10–30-byte shingle text
    //            nor the source string ever shuffles. The kernel
    //            replaces tokens() + wordShinglesFrom() +
    //            array_distinct() + string hashing (shingle-STRING
    //            generation was 85% of the operator's cost at the
    //            100× probe — 99 s of 117 s).
    //   packed = doc_id << 20 | n_sh — id and the doc's distinct-
    //            shingle count in one word (n_sh < 2²⁰ by far; doc_id
    //            < 2⁴³ keeps the pack positive). sort_array on plain
    //            longs sorts by doc_id (high bits), giving doc_a <
    //            doc_b pair order for free.
    // Intersection-by-hash is exact up to 64-bit collisions (≈ d²/2⁶⁵
    // expected spurious shared shingles corpus-wide — vanishing at any
    // real scale, zero at oracle scale). The flatMap (not explode) is
    // deliberate: Catalyst re-evaluates a computed array per OUTPUT
    // row under Generate.
    val postings = Spread.spreadIfNarrow(docs)
      .select(col("doc_id"), graft.functions.HashFunctions
        .shingle_keys(col("text"), col("source"), 3).as("keys"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, keys) =>
        val packed = (id << 20) | keys.length.toLong
        keys.map(h => (h, packed))
      }
      .toDF("shingle", "packed")

    // bucket per folded (source, shingle) key: tiny sorted member
    // lists (posting lists are bounded by block size), pairs generated
    // inside the bucket with array lambdas — one shuffle, no self-join
    // re-scan. collect_list partially aggregates map-side, and the
    // single-long group key keeps both the hash table and the exchange
    // narrow. A document-frequency ceiling (`maxDf`) drops
    // stop-shingle buckets — one shingle shared by 10⁵ docs would
    // otherwise form a single 10¹⁰-pair bucket; a shingle that common
    // carries no near-dup signal anyway (standard stop-shingle
    // treatment). Coverage loss is observable:
    // observe("jaccard_bucket_cap") reports dropped_buckets per run.
    // maxDf=100 ≫ the max df of 6 seen at sf0.1, so the oracle sees
    // zero drops at test scale.
    pairIntersections(postings, maxDf, "jaccard_bucket_cap")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The shared bucket → pair-gen → intersection tail of the exact
    * pair operators: (shingle, packed) postings in, one row per
    * co-occurring pair out — (doc_a, doc_b, n_a, n_b, inter), doc_a <
    * doc_b. One shuffle into per-key buckets, no self-join re-scan;
    * identical member sets pair-generate ONCE carrying multiplicity
    * (`cnt`), so replica-heavy corpora don't explode pair volume by
    * the shingles-per-doc factor; sum(cnt) reproduces each pair's
    * intersection count exactly. `maxDf` drops stop-shingle buckets
    * (observable via `observeName`).
    */
  private def pairIntersections(postings: DataFrame, maxDf: Int,
      observeName: String): DataFrame = {
    val buckets = postings
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("packed"))).as("ids"))
      .filter(size(col("ids")) > 1)
      // NOTE: observe rows are ERASED by AQE when the FINAL result is
      // empty (AQEPropagateEmptyRelation drops the executed
      // CollectMetrics from the plan observedMetrics walks) — the
      // metric is best-effort on empty output; see the canonical
      // caveat + spec pin on Similarity.simJoinLsh.
      .observe(observeName,
        sum(when(size(col("ids")) > maxDf, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("ids")) <= maxDf)
      .groupBy(col("ids")).agg(count(lit(1)).as("cnt"))

    val nMask = (1L << 20) - 1
    val pairGen = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
        struct(shiftright(a, 20).as("doc_a"),
          shiftright(b, 20).as("doc_b"),
          a.bitwiseAND(lit(nMask)).as("n_a"),
          b.bitwiseAND(lit(nMask)).as("n_b")))))

    buckets
      .select(col("cnt"), explode(pairGen).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .agg(sum(col("cnt")).as("inter"))
  }

  /** D10 — EXACT SUBSTRING near-dup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * criterion, arXiv:2107.06499): document pairs sharing at least
    * `minShared` distinct VERBATIM runs of `w` consecutive tokens,
    * corpus-wide (no block-key assumption — boilerplate and licence
    * headers cross sources). Positional verbatim overlap is the
    * signal jaccard's bag-of-shingles misses: two docs can share a
    * long quoted passage at jaccard ≈ 0, and conversely. Same
    * posting/bucket machinery as [[jaccardPairs]] at window size w:
    * one shuffle of two-long rows, df-capped buckets, output
    * (doc_a, doc_b, n_shared) = distinct shared windows.
    */
  def substringPairs(spark: SparkSession, sfDir: String,
      w: Int = 8, minShared: Int = 1, maxDf: Int = 100): DataFrame = {
    import spark.implicits._
    val postings = documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.HashFunctions
        .shingle_keys(col("text"), lit(""), w).as("keys"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, keys) =>
        val packed = packedOf(id, keys.length)
        keys.map(h => (h, packed))
      }
      .toDF("shingle", "packed")
    pairIntersections(postings, maxDf, "substring_bucket_cap")
      .filter(col("inter") >= minShared)
      .select(col("doc_a"), col("doc_b"),
        col("inter").cast("long").as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Auto-pick the MinHash-LSH shape `(k, bands)` for a requested
    * jaccard threshold: the banding S-curve `1 − (1 − t^r)^b`
    * (r = k/bands rows per band) must clear `targetRecall` AT the
    * threshold itself, not only well above it — the round-11 recall
    * probe measured 0.865 in the [0.3, 0.4) truth band when the
    * k=32 × (16×2) default (S-curve centered for j ≈ 0.5, its
    * midpoint (1/b)^(1/r) = 0.25) was asked for t = 0.3. Preference
    * order: the LARGEST rows-per-band r that clears the target with
    * the SMALLEST signature k — big r keeps band buckets selective
    * (candidate volume ∝ Σ bucket², and a band key of r minhashes
    * collides at rate j^r), extra k only costs one more kernel pass.
    * The scan covers r ∈ {8,4,2,1} × k ∈ {32,64,128}; t = 0.5 →
    * (32, 16) — exactly the historical default, so existing measured
    * recall numbers are unchanged — while t = 0.3 → (64, 32)
    * (S-curve 0.951 at 0.3 vs the default's 0.779) and high
    * thresholds move to fewer, longer bands (t = 0.7 → (64, 16) at
    * r = 4: more selective buckets, not less recall).
    */
  private[graft] def lshParamsFor(threshold: Double,
      targetRecall: Double = 0.95): (Int, Int) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val combos = for {
      r <- Seq(8, 4, 2, 1)
      k <- Seq(32, 64, 128)
    } yield (k, k / r, r)
    combos.collectFirst {
      case (k, b, r)
        if 1.0 - math.pow(1.0 - math.pow(threshold, r), b) >= targetRecall =>
        (k, b)
    }.getOrElse((128, 128))
  }

  /** D4b — CROSS-BLOCK exact jaccard: same output contract as
    * [[jaccardPairs]] but with no block-key assumption — candidates
    * come from MinHash-LSH banding, each candidate verified with the
    * exact sorted-key intersection. This is the shape for corpora
    * where no `source` blocking exists or near-dups cross blocks.
    * By default (`k`/`bands` ≤ 0) the banding shape is picked by
    * [[lshParamsFor]] from the requested threshold — t = 0.5 keeps
    * the historical 32 × (16×2), t = 0.3 widens to 64 × (32×2) so
    * the S-curve clears 0.95 at the threshold itself; pass explicit
    * k/bands to pin a shape.
    */
  def jaccardPairsLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5, k: Int = -1, bands: Int = -1,
      maxBucket: Int = 5000): DataFrame = {
    val (ak, ab) =
      if (k > 0 && bands > 0) (k, bands) else lshParamsFor(threshold)
    jaccardPairsLshShaped(spark, sfDir, threshold, ak, ab, maxBucket)
  }

  private def jaccardPairsLshShaped(spark: SparkSession, sfDir: String,
      threshold: Double, k: Int, bands: Int,
      maxBucket: Int): DataFrame =
    // signature pre-filter at threshold − 0.2 (≈2.3σ of the k=32
    // estimator at j=0.5): implausible in-bucket pairs are dropped
    // inside the pair flatMap and never reach the verify join, which
    // carries both shingle-key arrays per candidate. Misses cost
    // ~1%/pair at the boundary — inside the spec'd 0.9 recall — and
    // exact duplicates (est = 1.0) always pass.
    MinHashDedup.minhashPairs(spark, sfDir, k = k, bands = bands,
      minEst = math.max(0.0, threshold - 0.2), maxBucket = maxBucket)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
}

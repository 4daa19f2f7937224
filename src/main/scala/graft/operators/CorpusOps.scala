package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import scala.reflect.ClassTag
import graft.Tables.documents

/** Corpus-level training-data operators: statistics and layouts that
  * need the WHOLE corpus per doc — novelty (corpus-wide shingle df)
  * and sequence packing (global token prefix-sum) — kept scalable by
  * the inverted-postings and distributed-prefix-sum shapes.
  */
object CorpusOps {

  /** T9 — n-gram NOVELTY per document: the fraction of a doc's
    * distinct 3-gram shingles that occur in NO other document —
    * the dedup-aware quality weight a pipeline uses to up-sample
    * genuinely novel text (a doc whose shingles all appear elsewhere
    * is boilerplate even when no single pair crosses a dedup
    * threshold).
    *
    * Shape: `shingle_keys` postings (two longs, same pack as the
    * dedup family), then two PARTIAL-AGGREGATED groupBys — never a
    * window partitioned by shingle: a window moves EVERY posting of a
    * given shingle to one task with no map-side combine, and a
    * power-law corpus has stop-shingles present in a large fraction
    * of documents (one key carrying 10⁸⁺ rows on a single task).
    * With groupBy, map-side combine collapses each map partition's
    * postings to one row per distinct shingle before the exchange, so
    * a hot shingle costs #partitions rows at its reducer, not
    * #postings. And because a shingle with df == 1 has exactly ONE
    * posting, `min(doc_id)` of its group IS the owning document — the
    * unique-shingle counts per doc come straight off the shingle agg,
    * no join back onto the postings at all. Work is Θ(postings); the
    * shingle agg and the two doc-keyed aggs are the only shuffles.
    * Exact up to 64-bit shingle-key collisions (zero at oracle scale,
    * ≈ d²/2⁶⁵ corpus-wide — the documented contract of the whole
    * shingle-key family).
    */
  def textNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFunctions.shingle_keys
    val postings = documents(spark, sfDir)
      .select(col("doc_id"),
        shingle_keys(col("text"), lit(""), 3).as("keys"))
      .as[(Long, Array[Long])]
      .flatMap { case (id, keys) => keys.map(h => (h, id)) }
      .toDF("shingle", "doc_id")
    val nShingles = postings
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val nUnique = postings
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    nShingles.join(nUnique, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** T10 — SEQUENCE PACKING: assign docs (in doc_id order) to
    * contiguous training-batch bins of `targetTokens` whitespace
    * tokens — the batch-packing layout step before tokenized
    * examples are written. A doc belongs to the bin where its token
    * range STARTS (offset packing): deterministic, order-preserving,
    * and one doc may straddle a boundary — the sequential greedy
    * packing a single-threaded writer would produce, computed
    * distributed.
    *
    * The global running token count comes from
    * [[graft.plans.GlobalOrder.withPrefixSum]] — per-partition
    * partial sums + offset pass — NOT `sum() OVER (ORDER BY ...)`,
    * whose unpartitioned window moves the entire corpus to one task.
    */
  def packSequences(spark: SparkSession, sfDir: String,
      targetTokens: Long = 2048L): DataFrame =
    packSequencesDocs(documents(spark, sfDir), targetTokens)

  /** [[packSequences]] over an arbitrary `(doc_id, text)` frame — the
    * composable core (the pipeline packs the corpus that SURVIVED its
    * upstream stages, not the raw table).
    */
  def packSequencesDocs(docs: DataFrame,
      targetTokens: Long = 2048L): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    packSequencesCounted(docs
      .select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens")),
      targetTokens)
  }

  /** The packing core over an arbitrary `(doc_id, n_tokens)` counts
    * frame — the token COUNTER is pluggable: whitespace kernel by
    * default ([[packSequencesDocs]]), corpus-mined subword counts for
    * tokenizer-accurate budgets ([[Bpe.packSequencesBpe]]).
    */
  def packSequencesCounted(counts: DataFrame,
      targetTokens: Long = 2048L): DataFrame = {
    require(targetTokens > 0, s"targetTokens must be > 0: $targetTokens")
    // `div` (long integer division — both operands non-negative), not
    // floor(double /): past 2^53 cumulative tokens the double rounds
    // and can diverge from integer division, at odds with the 100 TB
    // contract.
    graft.plans.GlobalOrder
      .withPrefixSum(counts, Seq(col("doc_id")), "n_tokens", "cum")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div ${targetTokens}L").as("bin"))
      .orderBy(col("doc_id"))
  }

  /** T44 — TRAINING-EXPORT SHARDS: the last stage of a curation
    * pipeline — lay the released corpus out as token-balanced shards
    * in a DETERMINISTIC SHUFFLED order (trainers want source/time
    * decorrelated within and across shards, and backfills must
    * reproduce the exact same layout). The shuffle key is
    * `md5(seed ":" doc_id)` — a seeded pseudo-random permutation with
    * no RNG state (the T8/T13 md5-order convention, seeded), a pure
    * function of the id so re-keying a backfill never re-hashes
    * text. Shard assignment is the [[packSequences]] offset rule over
    * the SHUFFLED order: a doc belongs to the shard where its token
    * range starts, so every shard except the last carries
    * `tokensPerShard ± max_doc_tokens` tokens — balanced without any
    * bin-packing iteration.
    *
    * Shape: one projection (token kernel + md5), then the
    * [[graft.plans.GlobalOrder.withPrefixSum]] two-pass prefix sum
    * over the sort on (h, doc_id) — `sum() OVER (ORDER BY ...)`
    * without the unpartitioned-window one-task collapse. The only
    * driver-side data is one long per partition. Text never moves:
    * the counts projection drops it before the sort. The physical
    * export (`df.write.partitionBy("shard_id")`) then writes each
    * shard's files without any further shuffle beyond the one
    * already performed here.
    *
    * No streaming face by design: the assignment is a function of
    * the GLOBAL token prefix sum, which no per-key streaming state
    * can know — the streaming ingest story ends at admission (X24);
    * export is the batch job over a released snapshot.
    */
  def exportShardsDocs(docs: DataFrame, tokensPerShard: Long = 32768L,
      seed: Long = 7L): DataFrame = {
    require(tokensPerShard > 0,
      s"tokensPerShard must be > 0: $tokensPerShard")
    import graft.functions.TextFunctions.tokenCount
    val counted = docs.select(
      col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))
        .as("h"))
    graft.plans.GlobalOrder
      .withPrefixSum(counted, Seq(col("h"), col("doc_id")),
        "n_tokens", "cum")
      .select(col("doc_id"), col("n_tokens"), col("h"),
        expr(s"(cum - n_tokens) div ${tokensPerShard}L")
          .as("shard_id"))
  }

  /** The registered `export_shards` query: the shard assignment of
    * the raw corpus at the library defaults, in doc_id order (the
    * shuffle key column is internal — the contract is the
    * assignment).
    */
  def exportShards(spark: SparkSession, sfDir: String,
      tokensPerShard: Long = 32768L, seed: Long = 7L): DataFrame =
    exportShardsDocs(documents(spark, sfDir), tokensPerShard, seed)
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
      .orderBy(col("doc_id"))

  /** T44b — the SHARD MANIFEST: the per-shard summary the trainer's
    * data loader reads before opening any file — doc count, token
    * mass, and the first/last doc in shuffle order (the resume
    * cursor: a loader that dies mid-shard restarts from a doc id,
    * not a byte offset). One aggregation over [[exportShardsDocs]]
    * (#shards rows — map-side combined), nothing driver-side.
    */
  def shardManifest(spark: SparkSession, sfDir: String,
      tokensPerShard: Long = 32768L, seed: Long = 7L): DataFrame =
    exportShardsDocs(documents(spark, sfDir), tokensPerShard, seed)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min_by(col("doc_id"), col("h")).as("first_doc"),
        max_by(col("doc_id"), col("h")).as("last_doc"))
      .orderBy(col("shard_id"))

  /** T13 — SOURCE MIXING: sample each source's docs to a
    * temperature-rebalanced token budget — the standard α = 0.5
    * upweighting of low-resource sources (per-source share ∝
    * √tokens, the multilingual-sampling temperature trick). Docs are
    * taken in md5 order (deterministic, hash-spread — no RNG state to
    * reproduce across backfills) until the source's token target is
    * reached; the crossing doc is included (its range STARTS inside
    * the budget — same offset rule as [[packSequences]]).
    *
    * Exactness: per-source weights are `floor(√T_s)` as LONGS and the
    * target is `budget·w_s div ΣW` — pure integer arithmetic after
    * one correctly-rounded `sqrt`, so there is no float-summation
    * order to drift a boundary doc (a double share would make the
    * cut nondeterministic within 1 ulp).
    *
    * Shape: the weight table is #sources rows (tiny agg, broadcast
    * back); the running token count per source comes from
    * [[graft.plans.GlobalOrder.withPrefixSumKeyed]] — a keyed window
    * would put an entire source (terabytes at 100 TB) on ONE task.
    */
  def mixSources(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 20000L): DataFrame =
    mixSourcesDocs(documents(spark, sfDir), budgetTokens)

  /** [[mixSources]] over an arbitrary `(doc_id, source, text)` frame
    * — the composable core.
    */
  def mixSourcesDocs(docs: DataFrame,
      budgetTokens: Long = 20000L): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    mixSourcesCounted(docs
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n"),
        md5(col("text")).as("h")),
      budgetTokens)
  }

  /** The mixing core over an arbitrary `(doc_id, source, n, h)` frame
    * (`n` = token count, `h` = the deterministic selection-order key)
    * — the counter is pluggable, the [[packSequencesCounted]]
    * convention.
    */
  def mixSourcesCounted(d: DataFrame,
      budgetTokens: Long = 20000L): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0: $budgetTokens")
    import org.apache.spark.sql.functions.broadcast
    val w = d.groupBy(col("source"))
      .agg(sum(col("n")).as("t"))
      .select(col("source"),
        floor(sqrt(col("t").cast("double"))).cast("long").as("w"))
    val targets = w
      .crossJoin(broadcast(w.agg(sum(col("w")).as("tot"))))
      .select(col("source"),
        expr(s"(${budgetTokens}L * w) div tot").as("target"))
    val cum = graft.plans.GlobalOrder.withPrefixSumKeyed(
      d, "source", Seq(col("h"), col("doc_id")), "n", "cum")
    cum.join(broadcast(targets), Seq("source"))
      .filter(col("cum") - col("n") < col("target"))
      .select(col("doc_id"), col("source"), col("n").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** T13b — SAMPLED source mixing: [[mixSources]] with the per-source
    * document order drawn by SEEDED noise instead of md5 rank — the
    * stochastic mixing a pipeline wants when consecutive backfills
    * should draw DIFFERENT (but individually reproducible) corpus
    * slices per source, mirroring [[Search.dsirSelectSampled]]'s
    * Gumbel contract. Each doc's selection key is
    * `base(h) + τ·G(seed, doc_id)`: `base` maps the md5 rank into
    * [0,1) (the top 60 bits, rounded to double — rounding is
    * monotone, and `h` itself tie-breaks the lost low bits), `G` is
    * the seeded standard-Gumbel variate
    * ([[Search.gumbelOf]] — a pure function of (seed, doc_id), no RNG
    * state). τ interpolates the contract: τ = 0 RECOVERS
    * [[mixSources]] EXACTLY — the sort key degrades to
    * (base(h), h, doc_id) and base is monotone in h, so the order IS
    * (h, doc_id) — while τ → ∞ approaches a uniform seeded
    * permutation within each source (equal weights under Gumbel
    * perturbation = sampling without replacement from the uniform
    * distribution, Vieira 2014). Per-source token targets are the
    * SAME integers as the deterministic mix (weights come from the
    * full per-source token mass, which sampling does not change).
    *
    * Scale shape: identical to [[mixSources]] — the noise is one
    * pure-function typed map (splitmix64 needs wrapping multiplies,
    * which ANSI-mode column arithmetic rejects), then the same keyed
    * two-pass prefix-sum; no shuffle added. Rows-only for the driver
    * oracle (float-ordered frontier, the dsir_select_sampled
    * precedent); CorpusOpsSpec pins the full in-driver reference
    * selection, the τ=0 recovery, seed reproducibility and seed
    * sensitivity.
    */
  def mixSourcesSampled(spark: SparkSession, sfDir: String,
      budgetTokens: Long = 20000L, tau: Double = 1.0,
      seed: Long = 42L): DataFrame =
    mixSourcesSampledDocs(documents(spark, sfDir), budgetTokens, tau,
      seed)

  /** [[mixSourcesSampled]] over an arbitrary `(doc_id, source, text)`
    * frame — the composable core.
    */
  def mixSourcesSampledDocs(docs: DataFrame,
      budgetTokens: Long = 20000L, tau: Double = 1.0,
      seed: Long = 42L): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0: $budgetTokens")
    require(tau >= 0.0 && java.lang.Double.isFinite(tau),
      s"tau must be finite and >= 0: $tau")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    import graft.functions.TextFunctions.tokenCount
    val d = docs.select(col("doc_id"), col("source"),
      tokenCount(col("text")).cast("long").as("n"),
      md5(col("text")).as("h"))
    val w = d.groupBy(col("source"))
      .agg(sum(col("n")).as("t"))
      .select(col("source"),
        floor(sqrt(col("t").cast("double"))).cast("long").as("w"))
    val targets = w
      .crossJoin(broadcast(w.agg(sum(col("w")).as("tot"))))
      .select(col("source"),
        expr(s"(${budgetTokens}L * w) div tot").as("target"))
    val keyed = d.as[(Long, String, Long, String)]
      .map { case (id, src, n, h) =>
        (id, src, n, h, gumbelKey(h, tau, seed, id))
      }
      .toDF("doc_id", "source", "n", "h", "gkey")
    val cum = graft.plans.GlobalOrder.withPrefixSumKeyed(
      keyed, "source", Seq(col("gkey"), col("h"), col("doc_id")),
      "n", "cum")
    cum.join(broadcast(targets), Seq("source"))
      .filter(col("cum") - col("n") < col("target"))
      .select(col("doc_id"), col("source"), col("n").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The sampled selection key: md5 rank folded into [0,1) (top 60
    * bits rounded to double — monotone in the hex string, ties
    * carried by the `h` tie-break, so the `(gkey, h, …)` sort at
    * τ=0 IS the md5 sort) plus the seeded
    * Gumbel perturbation at temperature τ. Shared by the operator's
    * typed map and the spec's in-driver reference — one definition,
    * bit-identical on both sides.
    */
  private[graft] def gumbelKey(h: String, tau: Double, seed: Long,
      id: Long): Double = {
    val base = java.lang.Long.parseLong(h.substring(0, 15), 16)
      .toDouble / (1L << 60).toDouble
    base + tau * Search.gumbelOf(seed, id)
  }

  /** T26 — CROSS-SOURCE OVERLAP MATRIX: for every pair of sources,
    * how many DISTINCT documents (by content fingerprint) they share
    * — the "how much of source B is already in source A"
    * release-engineering question (CommonCrawl snapshots vs a curated
    * set, vendor drops vs the existing corpus) that decides whether a
    * new source is worth ingesting BEFORE the dedup pass runs.
    * Output: one row per unordered source pair `(src_a < src_b)` with
    * the distinct-doc sizes and the intersection count — all
    * integers, so the whole matrix hash-matches the oracle; Jaccard /
    * containment are one division away.
    *
    * Scale shape: distinct (source, fp) is one partial-agged
    * exchange; the intersection is a fp-keyed self-equi-join whose
    * per-fp fan-out is bounded by #sources² (sources are dozens, not
    * data-sized), then a #source²-row agg; the size table joins in
    * broadcast. Nothing driver-side.
    */
  def sourceOverlapQuery(spark: SparkSession, sfDir: String): DataFrame =
    sourceOverlapDocs(plantCrossSource(documents(spark, sfDir)))

  /** The registered query plants deterministic doc_id-derived shared
    * passages (`doc_id % 3 == 0` docs collapse to one of 16 canonical
    * texts, hitting every source) — the pii_scrub non-vacuity
    * convention: the raw test corpus has NO cross-source exact dups,
    * and an all-zero matrix would verify nothing. Mirrored in the
    * oracle SQL.
    */
  private[graft] def plantCrossSource(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(lit("shared passage "), (col("doc_id") % 16).cast("string")))
        .otherwise(col("text")))

  /** [[sourceOverlapQuery]] over an arbitrary `(source, text)` frame
    * — the composable core.
    */
  def sourceOverlapDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val f = docs.select(col("source"), md5(col("text")).as("fp"))
      .distinct()
    val s = f.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val i = f.as("a")
      .join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    // the FULL matrix, zero pairs included — "no overlap" is a
    // finding, not a missing row
    val pairs = s.as("sa")
      .join(broadcast(s.as("sb")), col("sa.source") < col("sb.source"))
      .select(col("sa.source").as("src_a"), col("sb.source").as("src_b"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"))
    pairs.join(broadcast(i), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** T26b — SKETCHED source overlap: the 100 TB path when even the
    * distinct-fingerprint self-join is unwelcome. One scan builds a
    * per-source KMV / bottom-k sketch (the k smallest distinct
    * xxhash64 values — [[graft.functions.BottomKDistinct]], map-side
    * combined, k longs per source per partition on the wire), the
    * driver merges #sources bounded sketches pairwise: Jaccard ≈
    * |X ∩ A_k ∩ B_k| / |X| with X the k smallest of the sketch
    * union — the classic KMV pair estimator (Beyer et al. SIGMOD
    * 2007), EXACT whenever a pair's true union fits k (x ∈ X ∩ fullA
    * ⇒ x ∈ A_k, so membership tests against sketches are never
    * wrong, only truncated). Driver work is #sources² · O(k) on
    * longs, budget-guarded by `maxSources` with a loud failure.
    * Rows-only (a fixed-size hash sketch has no ANSI-SQL oracle);
    * CorpusOpsSpec pins sketch == exact in the k-covers-union
    * regime and a bounded-error planted case where k is saturated.
    */
  def sourceOverlapSketch(spark: SparkSession, sfDir: String,
      k: Int = 1024, maxSources: Int = 4096): DataFrame =
    sourceOverlapSketchDocs(plantCrossSource(documents(spark, sfDir)),
      k, maxSources)

  /** [[sourceOverlapSketch]] over an arbitrary `(source, text)` frame
    * — the composable core.
    */
  def sourceOverlapSketchDocs(docs: DataFrame, k: Int = 1024,
      maxSources: Int = 4096): DataFrame = {
    require(k > 0 && k <= (1 << 20), s"k must be in [1, 2^20]: $k")
    require(maxSources >= 2, s"maxSources must be >= 2: $maxSources")
    val spark = docs.sparkSession
    import spark.implicits._
    val sk = docs
      .select(col("source"), xxhash64(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.AggFunctions
        .bottom_k_distinct(col("h"), k).as("sk"))
      .as[(String, Array[Long])]
      .collect()
      .sortBy(_._1)
    require(sk.length <= maxSources,
      s"${sk.length} sources exceed maxSources=$maxSources — the " +
        "pairwise merge is a bounded driver computation (#sources² · " +
        "k longs); raise the budget knowingly")
    val rows = for {
      i <- sk.indices
      j <- (i + 1) until sk.length
    } yield (sk(i)._1, sk(j)._1, kmvJaccard(sk(i)._2, sk(j)._2, k))
    spark.createDataset(rows)
      .toDF("src_a", "src_b", "j_est")
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The KMV pair estimator over two ascending distinct-hash sketches:
    * two-pointer merge of the k smallest union values, counting those
    * present in BOTH sketches.
    */
  private[graft] def kmvJaccard(a: Array[Long], b: Array[Long],
      k: Int): Double = {
    var ia = 0; var ib = 0; var taken = 0; var inter = 0
    while (taken < k && (ia < a.length || ib < b.length)) {
      if (ib >= b.length || (ia < a.length && a(ia) < b(ib))) ia += 1
      else if (ia >= a.length || b(ib) < a(ia)) ib += 1
      else { inter += 1; ia += 1; ib += 1 }
      taken += 1
    }
    if (taken == 0) 0.0 else inter.toDouble / taken.toDouble
  }

  /** The word-trigram stream of one document — THE shared gram
    * builder for T17 mining and T18 counting: both stages must build
    * byte-identical grams or the counting stage silently scores zero
    * hits against the broadcast top-k set.
    *
    * Tokenization mirrors the oracle's
    * `regexp_split_to_array(trim(text), '\s+')` EXACTLY, which a
    * plain Java `t.trim.split("\\s+")` does not: DuckDB `trim`
    * strips SPACES only (Java trim strips all ≤ 0x20, losing the
    * edge empty token a leading tab produces), RE2's `\s` is
    * `[\t\n\f\r ]` (Java's adds `\x0B`), and DuckDB keeps the
    * trailing empty token Java's default split drops (hence
    * `limit = -1`). Verified against the harness DuckDB on
    * tab/newline/vertical-tab edge texts.
    */
  private[graft] def duckTokens(t: String): Array[String] = {
    var b = 0
    var e = t.length
    while (b < e && t.charAt(b) == ' ') b += 1
    while (e > b && t.charAt(e - 1) == ' ') e -= 1
    t.substring(b, e).split("[ \t\n\f\r]+", -1)
  }

  private def trigramsOf(t: String): Iterator[String] = {
    val tk = duckTokens(t)
    if (tk.length < 3) Iterator.empty
    else (0 to tk.length - 3).iterator
      .map(i => tk(i) + " " + tk(i + 1) + " " + tk(i + 2))
  }

  /** T17 — corpus-wide FREQUENT N-GRAM MINING (the C4/Gopher
    * boilerplate-detection prerequisite): exact counts of word
    * trigrams across the whole corpus, top-k by count with ties
    * broken by the n-gram string, so the frontier is deterministic
    * and the whole result hash-matches DuckDB.
    *
    * Scale shape: one scan through a typed flatMap (NOT
    * `explode(transform(...))` — that shape trips the
    * alias-substitution trap PlanAuditSpec lints: Generate's pushed
    * size/isnotnull predicate would re-run the gram-building HOF per
    * row in an interpreted Filter), then a partial-agged count —
    * map-side combine collapses repeated grams before the shuffle,
    * so the exchange carries distinct (gram, partial-count) rows —
    * and a TakeOrderedAndProject top-k: per-partition heaps, k rows
    * to the driver, never a global sort of the gram table.
    */
  def topNgrams(spark: SparkSession, sfDir: String,
      k: Int = 100): DataFrame = {
    require(k > 0 && k <= 100000,
      s"k must be in 1..100000 (driver-bounded result), got $k")
    import spark.implicits._
    documents(spark, sfDir).select(col("text")).as[String]
      .flatMap(trigramsOf)
      .toDF("ngram")
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /** T21 — APPROXIMATE frequent-n-gram mining for corpora whose
    * DISTINCT-gram table is itself too large to shuffle (the 100 TB
    * regime [[topNgrams]]'s exact groupBy eventually hits: the
    * exchange carries one row per distinct trigram — billions).
    * Two bounded passes instead:
    *
    *  1. per-partition MISRA–GRIES(capacity) summaries (typed
    *     mapPartitions, fixed memory): any gram with partition-local
    *     count > partitionSize/capacity survives its partition's
    *     summary, so the candidate union (≤ capacity rows per
    *     partition, ids only ever partially-agged) contains every
    *     gram with global count > totalGrams/capacity.
    *  2. EXACT recount of the bounded candidate set (broadcast hash
    *     set, one more scan, partial-agged count of candidate hits
    *     only), then the same deterministic top-k frontier as T17.
    *
    * Output counts are EXACT (pass 2); only the candidate RECALL is
    * approximate, with the classic guarantee above — the returned
    * top-k equals the exact top-k whenever the true k-th count
    * exceeds totalGrams/capacity (asserted against [[topNgrams]] in
    * CorpusOpsSpec at test SFs; rows-only for the driver oracle
    * because the candidate frontier under ties is summary-dependent).
    *
    * The candidate union is ≤ capacity × #partitions distinct grams
    * (each partition's MG summary contributes at most `capacity`);
    * the driver collect is budgeted by `maxCandidates` and FAILS
    * LOUDLY past it (the [[bannedLineFrontier]] contract — a silent
    * `limit` would drop an arbitrary candidate subset and void the
    * recall guarantee this operator exists to provide). At 10⁶
    * partitions the union can genuinely exceed any driver budget; the
    * loud failure tells the caller to raise `capacity`'s selectivity
    * (fewer survivors per partition via a larger corpus-per-partition
    * ratio), coalesce the scan, or raise the budget knowingly. Budget
    * cost: candidates are short strings — 8M trigrams ≈ a few hundred
    * MB of driver heap, the same order as the banned-line frontier.
    */
  def topNgramsApprox(spark: SparkSession, sfDir: String,
      k: Int = 100, capacity: Int = 4096,
      maxCandidates: Int = 8000000): DataFrame = {
    require(k > 0 && k <= 100000,
      s"k must be in 1..100000 (driver-bounded result), got $k")
    require(capacity >= k,
      s"capacity ($capacity) must be >= k ($k) for the recall bound")
    require(maxCandidates >= capacity,
      s"maxCandidates ($maxCandidates) must be >= capacity ($capacity)")
    import spark.implicits._
    val grams = documents(spark, sfDir).select(col("text")).as[String]
      .flatMap(trigramsOf)
    val candidates = grams
      .mapPartitions { it =>
        // Misra–Gries: maintain ≤ capacity counters; on overflow,
        // decrement all (lazily via a global offset would break the
        // classic bound's simplicity — decrement explicitly, the
        // eviction sweep amortizes to O(1) per arrival)
        val m = new java.util.HashMap[String, Long](capacity * 2)
        it.foreach { g =>
          val c = m.get(g)
          if (c != 0L || m.containsKey(g)) m.put(g, c + 1L)
          else if (m.size < capacity) m.put(g, 1L)
          else {
            val e = m.entrySet().iterator()
            while (e.hasNext) {
              val en = e.next()
              if (en.getValue == 1L) e.remove()
              else en.setValue(en.getValue - 1L)
            }
          }
        }
        import scala.jdk.CollectionConverters._
        m.keySet().iterator().asScala
      }
      .distinct()
      .limit(maxCandidates + 1)
      .collect()
    require(candidates.length <= maxCandidates,
      s"MG candidate union exceeds maxCandidates=$maxCandidates — the " +
        "recall guarantee cannot survive a silent truncation; raise the " +
        "budget, raise capacity selectivity (more corpus per partition), " +
        "or coalesce the scan to fewer partitions")
    val bc = spark.sparkContext.broadcast(candidates.toSet)
    grams
      .filter(g => bc.value.contains(g))
      .toDF("ngram")
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /** T18 — per-document BOILERPLATE SHARE: how much of each document
    * is made of the corpus' [[topNgrams]] — the Gopher-style signal a
    * pipeline thresholds to drop template-heavy documents. Consumes
    * the mining stage: top-k grams (a bounded k-string driver collect,
    * the sanctioned IVF-fit precedent) broadcast into one typed-map
    * scan that counts total and boilerplate trigrams per document —
    * integer-exact, so the whole diagnostic hash-matches. Docs with
    * no trigram (< 3 tokens) have no share and are absent by
    * contract, mirroring the SQL GROUP BY.
    *
    * Eager contract (the bm25Search convention): the MINING stage
    * runs at construction time — building this frame costs a corpus
    * scan before any action, because the counting map needs the top-k
    * set as a broadcast value. The broadcast itself is reclaimed by
    * Spark's ContextCleaner once the returned frame is unreachable.
    */
  def boilerplateShare(spark: SparkSession, sfDir: String,
      k: Int = 100): DataFrame = {
    import spark.implicits._
    val top = topNgrams(spark, sfDir, k)
      .select(col("ngram")).as[String].collect().toSet
    val bc = spark.sparkContext.broadcast(top)
    documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        var total = 0L
        var hits = 0L
        trigramsOf(t).foreach { g =>
          total += 1
          if (bc.value.contains(g)) hits += 1
        }
        (id, total, hits)
      }
      .toDF("doc_id", "n_grams", "boiler_hits")
      .filter(col("n_grams") > 0)
      .orderBy(col("doc_id"))
  }

  /** FNV-1a 64-bit over a line's UTF-8 bytes — the line identity the
    * df count and the keep-filter share. Exact up to 64-bit
    * collisions (the documented contract of the whole hash-key
    * family, ≈ d²/2⁶⁵ corpus-wide).
    */
  private[graft] def lineHash(s: String): Long = {
    val bs = s.getBytes("UTF-8")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bs.length) { h ^= bs(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Exactly DuckDB's `string_split(t, chr(10))`: literal newline
    * split, empties (including a trailing one) kept.
    */
  private def splitLines(t: String): Array[String] = t.split("\n", -1)

  /** Exactly DuckDB's `string_split(t, chr(10) || chr(10))`: literal
    * blank-line split, left-to-right non-overlapping (so "\n\n\n"
    * separates after the FIRST pair, leaving the third 0x0a on the
    * next paragraph — both engines agree), empties kept.
    */
  private[graft] def splitParagraphs(t: String): Array[String] =
    t.split(java.util.regex.Pattern.quote("\n\n"), -1)

  /** The rows every frontier mine and rebuild scans — (doc_id, text,
    * carry…) — round-robined first when `spread` (each face's
    * [[graft.plans.Spread]] choice).
    */
  private def frontierRows(docs: DataFrame, carry: Seq[String],
      spread: Boolean): DataFrame = {
    val rows = docs.select(("doc_id" +: "text" +: carry).map(col): _*)
    if (spread) graft.plans.Spread.spreadIfNarrow(rows) else rows
  }

  /** Sort `hs` in place and return its distinct values. */
  private def sortedDistinct(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var i = 0
    var n = 0
    while (i < hs.length) {
      if (n == 0 || hs(n - 1) != hs(i)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, n)
  }

  /** The one frontier mine of the scrub family (line, paragraph,
    * per-domain line, token-window and sentence-window). `keysOf`
    * hashes each (doc_id, text, carry…) row's segments into a FRESH
    * array; the per-doc sort-distinct makes df count DISTINCT docs
    * (SQL's count(DISTINCT doc_id)) and keeps the shuffle Θ(distinct
    * keys); a partial-agged groupBy counts df, and the keys with
    * df ≥ `minDf` come back through a bounded driver collect that
    * fails loudly with `refusal` past `budget`. Two result shapes:
    *  - `owned = false` emits 8-byte hashes and returns the sorted
    *    key set (owners empty) — the banned frontier;
    *  - `owned = true` emits (hash, doc_id) and returns the sorted
    *    keys with each key's aligned min-owner doc_id — the
    *    shared-window frontier of the span scrubs.
    */
  private def mineFrontier(docs: DataFrame, carry: Seq[String],
      spread: Boolean, keysOf: Row => Array[Long], owned: Boolean,
      minDf: Int, budget: Int,
      refusal: String): (Array[Long], Array[Long]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = frontierRows(docs, carry, spread)
    def guard[K](got: Array[K]): Array[K] = {
      require(got.length <= budget, refusal)
      got
    }
    if (owned) {
      val shared = guard(rows
        .flatMap(r => sortedDistinct(keysOf(r)).map(h => (h, r.getLong(0))))
        .toDF("h", "doc_id")
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("owner"), count(lit(1)).as("df"))
        .filter(col("df") >= minDf)
        .select(col("h"), col("owner")).as[(Long, Long)]
        .limit(budget + 1).collect()).sortBy(_._1)
      (shared.map(_._1), shared.map(_._2))
    } else {
      val banned = guard(rows.flatMap(r => sortedDistinct(keysOf(r)))
        .toDF("h")
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf)
        .select(col("h")).as[Long]
        .limit(budget + 1).collect())
      java.util.Arrays.sort(banned)
      (banned, Array.emptyLongArray)
    }
  }

  /** The banned (df ≥ `minDf`) frontier of line, paragraph and
    * per-domain line dedup, as the sorted hash array their rebuild
    * binary-searches.
    */
  private def bannedFrontier(docs: DataFrame, carry: Seq[String],
      keysOf: Row => Array[Long], minDf: Int, maxBanned: Int,
      what: String): Array[Long] = {
    require(minDf >= 2,
      s"minDf must be >= 2 (1 would drop every segment): $minDf")
    require(maxBanned > 0, s"maxBanned must be > 0: $maxBanned")
    // r21: no spread on this mine scan — the split+hash kernel is too
    // cheap to buy back a full-text round-robin exchange (measured at
    // sf0.1: line_dedup 0.48 → 0.53 s, paragraph_dedup 0.50 → 0.56 s
    // with the spread); the df groupBy already spreads the aggregation
    mineFrontier(docs, carry, spread = false, keysOf, owned = false,
      minDf, maxBanned,
      s"$what frontier exceeds maxBanned=$maxBanned — raise the " +
        "budget or raise minDf; refusing an unbounded driver collect")._1
  }

  /** The one frontier rebuild: `frontier` is broadcast once and one
    * typed map per doc runs `kernel(frontier, (doc_id, text, carry…))`,
    * emitting (doc_id, carry…, clean_text, n_kept, n_dropped). A pure
    * projection — no join, zero data shuffles past the optional
    * spread, text never crosses the wire, one row per input doc
    * (emptied docs stay with empty `clean_text`). The carried columns
    * ride the row: `source` for the composed pipelines (no doc_id
    * self-join to re-attach it), `ts` (and `domain`) for the streams
    * (a caller's watermark survives). The registered batch faces add
    * their `orderBy(doc_id)` on top.
    */
  private[graft] def frontierRebuild[F: ClassTag](docs: DataFrame,
      carry: Seq[String], spread: Boolean, frontier: F)(
      kernel: (F, Row) => (String, Long, Long)): DataFrame = {
    val rows = frontierRows(docs, carry, spread)
    val bc = docs.sparkSession.sparkContext.broadcast(frontier)
    val out = StructType(
      StructField("doc_id", LongType, nullable = false) +:
        rows.schema.fields.drop(2).map(_.copy(nullable = true)).toSeq :+
        StructField("clean_text", StringType) :+
        StructField("n_kept", LongType, nullable = false) :+
        StructField("n_dropped", LongType, nullable = false))
    rows.map { r =>
      val (txt, kept, dropped) = kernel(bc.value, r)
      val n = r.length
      val vs = new Array[Any](n + 2)
      vs(0) = r.get(0)
      var i = 2
      while (i < n) { vs(i - 1) = r.get(i); i += 1 }
      vs(n - 1) = txt
      vs(n) = kept
      vs(n + 1) = dropped
      new GenericRow(vs): Row
    }(Encoders.row(out))
  }

  /** The one drop-and-rejoin kernel of the frontier family (batch and
    * stream): `hs(i)` hashes the window of `w` segments starting at
    * `i`; a window found on the sorted frontier `keys` cuts its
    * segments — with an aligned `owners`, only when the window's
    * owner is a LOWER id than `id` (an empty `owners` is the banned
    * shape: every hit cuts). Survivors rejoin with `sep` in original
    * order. Returns (clean_text, n_kept, n_dropped).
    */
  private def scrubSegments(segs: Array[String], hs: Array[Long],
      keys: Array[Long], owners: Array[Long], id: Long, w: Int,
      sep: String): (String, Long, Long) = {
    val cut = new Array[Boolean](segs.length)
    var i = 0
    while (i < hs.length) {
      val p = java.util.Arrays.binarySearch(keys, hs(i))
      if (p >= 0 && (owners.isEmpty || owners(p) < id)) {
        var j = i
        while (j < i + w) { cut(j) = true; j += 1 }
      }
      i += 1
    }
    rejoin(segs, cut, sep)
  }

  /** Survivors of `cut` rejoined with `sep` in original order:
    * (clean_text, n_kept, n_dropped).
    */
  private def rejoin(segs: Array[String], cut: Array[Boolean],
      sep: String): (String, Long, Long) = {
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var i = 0
    while (i < segs.length) {
      if (!cut(i)) {
        if (kept > 0) sb.append(sep)
        sb.append(segs(i))
        kept += 1
      }
      i += 1
    }
    (sb.toString, kept, segs.length - kept)
  }

  /** The [[frontierRebuild]] kernels, one per granularity, shared by
    * the batch faces, the composed pipelines and the
    * X10/X21/X29/X12/X20 streams.
    */
  private def segmentScrub(split: String => Array[String],
      sep: String): (Array[Long], Row) => (String, Long, Long) =
    (banned, r) => {
      val ss = split(r.getString(1))
      scrubSegments(ss, ss.map(lineHash), banned, Array.emptyLongArray,
        r.getLong(0), 1, sep)
    }
  private[graft] val lineScrub = segmentScrub(splitLines, "\n")
  private[graft] val paragraphScrub = segmentScrub(splitParagraphs, "\n\n")
  private[graft] val domainLineScrub
      : (Array[Long], Row) => (String, Long, Long) = (banned, r) => {
    val dom = r.getAs[String]("domain")
    val ls = splitLines(r.getString(1))
    scrubSegments(ls, ls.map(siteLineHash(dom, _)), banned,
      Array.emptyLongArray, r.getLong(0), 1, "\n")
  }
  private[graft] def windowScrub(w: Int)
      : ((Array[Long], Array[Long]), Row) => (String, Long, Long) =
    (f, r) => scrubTokens(duckTokens(r.getString(1)), r.getLong(0),
      f._1, f._2, w)
  private[graft] def sentenceScrub(n: Int)
      : ((Array[Long], Array[Long]), Row) => (String, Long, Long) =
    (f, r) => scrubSentences(r.getString(1), r.getLong(0), f._1, f._2, n)

  /** The banned-paragraph frontier of [[paragraphDedup]]'s df pass —
    * exposed (the [[bannedLineFrontier]] convention) so a STREAMING
    * pipeline can mine it from the historical corpus once and scrub
    * arrivals statelessly.
    */
  def bannedParagraphFrontier(docs: DataFrame, minDf: Int = 3,
      maxBanned: Int = 4000000): Array[Long] =
    bannedFrontier(docs, Nil,
      r => splitParagraphs(r.getString(1)).map(lineHash), minDf,
      maxBanned, "banned-line")

  /** The banned-line frontier of [[lineDedup]]'s df pass, as the
    * sorted hash array the rebuild scan binary-searches — exposed so
    * a STREAMING pipeline can mine the frontier from the historical
    * corpus once and scrub arrivals statelessly
    * ([[graft.streaming.StreamingOps.streamingLineDedup]]).
    */
  def bannedLineFrontier(docs: DataFrame, minDf: Int = 3,
      maxBanned: Int = 4000000): Array[Long] =
    bannedFrontier(docs, Nil, r => splitLines(r.getString(1)).map(lineHash),
      minDf, maxBanned, "banned-line")

  /** T19 — LINE-LEVEL corpus dedup (the C4 / RefinedWeb boilerplate
    * pass): a line that occurs in `minDf`-or-more DISTINCT documents
    * corpus-wide is boilerplate (navigation chrome, cookie banners,
    * license footers) and is removed from EVERY document; each doc's
    * surviving lines are rejoined in original order. This is the
    * repetition-removal stage C4 runs at three-sentence granularity
    * and RefinedWeb at line granularity — document-level dedup (D1)
    * cannot catch it because the documents differ outside the
    * repeated chrome.
    *
    * Scale shape — two scans, text never shuffles:
    *  1. df scan ([[mineFrontier]]): each doc's DISTINCT line hashes
    *     (8 bytes/line), partial-agged count, filter `df >= minDf`.
    *     Only long hashes cross the wire.
    *  2. rebuild scan ([[frontierRebuild]]): the banned frontier
    *     (boilerplate is by nature a tiny fraction of distinct lines)
    *     is a bounded driver collect — `maxBanned` guards the budget
    *     with a loud failure, the boilerplateShare/IVF-fit precedent —
    *     broadcast as a sorted long[]; one typed map per doc
    *     binary-searches each line and rejoins survivors. Pure
    *     projection, zero shuffles (no spread either: a split+search
    *     kernel never repays a full-text exchange).
    *
    * Docs whose every line is boilerplate stay in the corpus with
    * empty `clean_text` (the pipeline's length filter drops them
    * downstream — this operator must not silently change corpus
    * membership).
    */
  def lineDedup(docs: DataFrame, minDf: Int = 3,
      maxBanned: Int = 4000000): DataFrame =
    frontierRebuild(docs, Nil, spread = false,
      bannedLineFrontier(docs, minDf, maxBanned))(lineScrub)
      .orderBy(col("doc_id"))

  /** T34 — PARAGRAPH-LEVEL corpus dedup: [[lineDedup]] at
    * blank-line granularity (the RefinedWeb/MassiveText variant —
    * whole boilerplate BLOCKS like license headers or nav sections
    * recur verbatim across documents even when their individual lines
    * vary around them). A paragraph (maximal "\n\n"-separated
    * segment, embedded single newlines included in its identity)
    * occurring in ≥ `minDf` distinct docs is removed everywhere;
    * survivors rejoin with "\n\n" in original order. Composes with
    * [[lineDedup]] for the nested case — paragraph kept, a
    * boilerplate line inside it still dropped (spec'd in
    * TextDedupSpec). Same two-scan shape and bounds as line dedup:
    * df-mine of 8-byte hashes, bounded loud frontier collect,
    * broadcast binary-search rebuild — zero data shuffles, text
    * never crosses the wire.
    */
  def paragraphDedup(docs: DataFrame, minDf: Int = 3,
      maxBanned: Int = 4000000): DataFrame =
    frontierRebuild(docs, Nil, spread = false,
      bannedParagraphFrontier(docs, minDf, maxBanned))(paragraphScrub)
      .orderBy(col("doc_id"))

  /** The registered `paragraph_dedup` query: the sf docs are
    * single-line (and so single-paragraph), so the query PLANTS
    * multi-paragraph structure (the line_dedup fixture at blank-line
    * separators): a per-source header block (df ≈ corpus/#sources —
    * dropped), the unique content paragraph carrying an EMBEDDED
    * single newline (paragraph identity spans it), a `ref` block
    * shared by exactly two docs (df = 2 < minDf — kept), and a
    * per-lang footer block (dropped). The oracle builds the
    * identical text in SQL.
    */
  def paragraphDedupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = documents(spark, sfDir).select(col("doc_id"),
      concat(lit("hdr "), col("source"), lit("\n\n"),
        col("text"), lit("\ninner "), col("lang"), lit("\n\n"),
        lit("ref "), expr("doc_id div 2").cast("string"), lit("\n\n"),
        lit("ftr "), col("lang")).as("text"))
    paragraphDedup(planted)
  }

  /** The registered `line_dedup` query: the synthetic docs are
    * single-line, so (the pii_scrub precedent) the query PLANTS
    * deterministic multi-line structure — a per-source header and a
    * per-lang footer (df ≈ corpus/#sources — dropped), the unique
    * content line (kept), and a `ref` line shared by exactly two docs
    * (df = 2 < minDf — kept), so both sides of the frontier are
    * exercised, not vacuous. The oracle builds the identical text in
    * SQL.
    */
  def lineDedupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = documents(spark, sfDir).select(col("doc_id"),
      concat(lit("hdr "), col("source"), lit("\n"),
        col("text"), lit("\n"),
        lit("ref "), expr("doc_id div 2").cast("string"), lit("\n"),
        lit("ftr "), col("lang")).as("text"))
    lineDedup(planted)
  }

  /** (site, line) identity for the per-domain frontier: FNV-1a over
    * `site + "\n" + line` bytes. Injective because a registered
    * domain can never contain a newline (the host capture stops at
    * `/ ? #` and hosts are single-line by RFC 3986), so the joined
    * string parses back uniquely — the length-prefixed-key precedent
    * without the prefix. Callers feeding EXTERNAL domains (the X29
    * StreamSiteDoc face) must uphold that no-newline precondition —
    * a domain containing '\n' could alias another (domain, line)
    * pair. Injectivity of the STRING, not the hash: as with the
    * global lineDedup contract, two distinct pairs may still collide
    * on the 64-bit FNV value (and here the collision can span the
    * domain dimension, merging their df counts) — at the frontier's
    * 4M-entry budget the birthday odds are ~1e-7, the same accepted
    * trade.
    */
  private[graft] def siteLineHash(site: String, line: String): Long =
    lineHash(site + "\n" + line)

  /** The banned frontier of [[domainLineDedup]]'s df pass — exposed
    * (the [[bannedLineFrontier]] convention) so a streaming pipeline
    * can mine it from the historical corpus once and scrub arrivals
    * statelessly given their domain.
    */
  def bannedDomainLineFrontier(docs: DataFrame, minDf: Int = 3,
      maxBanned: Int = 4000000): Array[Long] =
    bannedFrontier(docs, Seq("domain"), r => {
        val dom = r.getString(2)
        splitLines(r.getString(1)).map(siteLineHash(dom, _))
      }, minDf, maxBanned, "banned (domain, line)")

  /** T47 — PER-DOMAIN (site-level) boilerplate line removal: a line
    * occurring in ≥ `minDf` distinct documents OF THE SAME REGISTERED
    * DOMAIN is site chrome (nav bars, footers, cookie banners shared
    * only across one site's pages) and is dropped from that domain's
    * docs; the SAME line on another domain is judged by that domain's
    * own df. This is the per-site form of the published boilerplate
    * pass (RefinedWeb §3.3's line-wise rules; Dolma's per-document
    * dedup notes the within-site repetition case), and it is NOT
    * [[lineDedup]]: a phrase globally frequent but scattered one-per
    * -site (ad-injected slogans, syndicated bylines) survives here,
    * while site chrome too rare globally to reach a corpus-wide df
    * cutoff is still removed — the two operators err on opposite
    * sides and compose.
    *
    * Scale shape = T19's exactly (two scans, text never shuffles):
    * df pass emits per-doc-distinct 8-byte (domain, line) hashes,
    * partial-agged count, bounded LOUD frontier collect, broadcast
    * sorted long[]; rebuild is a zero-shuffle typed map binary-
    * searching each line under the doc's own domain. At 100 TB the
    * frontier stays boilerplate-sized (site chrome is a tiny fraction
    * of distinct lines); domains never repartition anything — the
    * domain string rides the existing row.
    *
    * `docs` must carry (doc_id, domain, text); emptied docs keep
    * empty `clean_text` (corpus membership preserved, the T19
    * contract).
    */
  def domainLineDedup(docs: DataFrame, minDf: Int = 3,
      maxBanned: Int = 4000000): DataFrame =
    frontierRebuild(docs, Seq("domain"), spread = false,
      bannedDomainLineFrontier(docs, minDf, maxBanned))(domainLineScrub)
      .orderBy(col("doc_id"))

  /** The registered `domain_line_dedup` query: the T39 planted-URL
    * fixture supplies the registered domain, and the text plants (the
    * line_dedup convention) a per-domain `nav`/`ftr` pair (df = that
    * domain's doc count ≥ minDf at every planted domain — dropped),
    * the unique content line (kept), and a `promo doc_id%97` line
    * whose GLOBAL df ≈ corpus/97 ≥ minDf but whose per-domain df
    * stays ≤ 2 (kept — the exact line [[lineDedup]] would drop,
    * pinning the semantic difference). The oracle builds the
    * identical URL, domain and text in SQL.
    */
  def domainLineDedupQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val withDomain = DomainOps.plantUrl(documents(spark, sfDir))
      .withColumn("domain",
        DomainOps.registeredDomain(DomainOps.urlHost(col("url"))))
    val planted = withDomain.select(col("doc_id"), col("domain"),
      concat(lit("nav "), col("domain"), lit("\n"),
        col("text"), lit("\n"),
        lit("promo "), (col("doc_id") % 97).cast("string"), lit("\n"),
        lit("ftr "), col("domain")).as("text"))
    domainLineDedup(planted)
  }

  /** T48 — CORPUS DIVERSITY REPORT (the distinct-n metric of dataset
    * cards, Li et al. 2016's distinct-1/2 generalized to the corpus:
    * the fraction of n-gram OCCURRENCES that are distinct TYPES): per
    * n, total n-gram occurrences, exact distinct n-gram count, and
    * their ratio (ONE IEEE division over exact integer counts, so the
    * whole row hash-checks). A collapsing ratio across releases is
    * the early template/boilerplate-flood signal a data card reports.
    *
    * Scale shape — two scans, both text-local: totals are a pure
    * projection sum (len − n + 1 per doc, map-side combined to #ns
    * rows); distincts emit per-doc-distinct 8-byte gram keys
    * ([[Dedup.ngramFnvKeys]] — D13's gram identity; per-doc dedupe
    * before the exchange, corpus-wide distinct is a two-level partial
    * agg over (n, key)). Distinct-type volume crossing the shuffle is
    * Heaps-law bounded; for a cheaper estimate at extreme scale,
    * R15's approx-distinct sketch composes on the same key stream.
    * Exact up to 64-bit collisions (the hash-key family contract).
    */
  def corpusDiversity(spark: SparkSession, sfDir: String,
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 16),
      s"ns out of range: $ns")
    require(ns.distinct == ns, s"duplicate n in $ns")
    import spark.implicits._
    val docs = documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val nsL = ns.toList
    val totals = docs.flatMap { case (_, t) =>
        val len = duckTokens(t).length
        nsL.map(n => (n, math.max(len - n + 1, 0).toLong))
      }
      .toDF("n", "c").groupBy(col("n"))
      .agg(sum(col("c")).as("n_grams"))
    val distincts = docs.flatMap { case (_, t) =>
        nsL.flatMap(n => Dedup.ngramFnvKeys(t, n).map(h => (n, h)))
      }
      .toDF("n", "h").distinct()
      .groupBy(col("n")).agg(count(lit(1)).as("n_distinct_grams"))
    totals.join(distincts, Seq("n"))
      .select(col("n"), col("n_grams"), col("n_distinct_grams"),
        (col("n_distinct_grams").cast("double") /
          col("n_grams").cast("double")).as("distinct_ratio"))
      .orderBy(col("n"))
  }

  /** Window-position FNV-64 hashes of a doc's units: one hash per
    * START position of a `w`-unit window, over the window's unit
    * bytes joined by the byte `sep`. Tokens join with ' ' (identical
    * to the oracle's `array_to_string(tk[i:i+w-1], ' ')` string);
    * sentence units with 0x00 (injective up to 64-bit collisions —
    * the hash-key family contract; NULs cannot appear as unit
    * boundaries because units carry their own bytes). O(n·w) per doc
    * — the [[Dedup.screenNgramOverlap]] convention; positions are NOT
    * deduped here (the scrub needs every occurrence's coverage).
    */
  private def windowHashes(units: Array[String], w: Int,
      sep: Long): Array[Long] = {
    if (units.length < w) Array.emptyLongArray
    else {
      val out = new Array[Long](units.length - w + 1)
      var i = 0
      while (i <= units.length - w) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < w) {
          if (j > 0) { h ^= sep; h *= 0x100000001b3L }
          val bs = units(i + j).getBytes("UTF-8")
          var b = 0
          while (b < bs.length) {
            h ^= bs(b) & 0xffL; h *= 0x100000001b3L; b += 1
          }
          j += 1
        }
        out(i) = h
        i += 1
      }
      out
    }
  }

  /** The shared-window frontier of [[substringScrub]]'s df pass —
    * `(sorted window hashes, aligned min-owner ids)` — exposed so a
    * STREAMING pipeline can mine it from the historical corpus once
    * and scrub arrivals statelessly
    * ([[graft.streaming.StreamingOps.streamingSubstringScrub]], the
    * bannedLineFrontier/X10 recipe).
    */
  def sharedWindowFrontier(docs: DataFrame, w: Int = 8,
      maxShared: Int = 4000000): (Array[Long], Array[Long]) = {
    require(w >= 2 && w <= 64, s"w out of range: $w")
    // r20: spread the mine scan — the tokenize+hash kernel otherwise
    // runs on the small file's single scan partition (guide §2.5);
    // no-op on any real multi-split input
    sharedFrontier(docs, spread = true,
      r => windowHashes(duckTokens(r.getString(1)), w, ' '), maxShared,
      s"shared-window frontier exceeds maxShared=$maxShared (~16 bytes " +
        "per window on the driver and in the broadcast) — raise the " +
        "budget knowingly or raise w; refusing an unbounded driver " +
        "collect")
  }

  /** The (hash, min-owner) frontier of the span scrubs: windows in
    * ≥ 2 docs (a df-1 window's owner is the doc itself and can never
    * scrub).
    */
  private def sharedFrontier(docs: DataFrame, spread: Boolean,
      keysOf: Row => Array[Long], maxShared: Int,
      refusal: String): (Array[Long], Array[Long]) = {
    require(maxShared > 0, s"maxShared must be > 0: $maxShared")
    mineFrontier(docs, Nil, spread, keysOf, owned = true, 2, maxShared,
      refusal)
  }

  /** The per-doc token-window kernel shared by the batch rebuild
    * scan and the X12 stream: cut every token covered by a frontier
    * window whose owner is a LOWER id, rejoin survivors with single
    * spaces ([[scrubSegments]]). Returns (clean_text, n_kept,
    * n_dropped).
    */
  private[graft] def scrubTokens(tk: Array[String], id: Long,
      keys: Array[Long], owners: Array[Long],
      w: Int): (String, Long, Long) =
    scrubSegments(tk, windowHashes(tk, w, ' '), keys, owners, id, w, " ")

  /** The SHUFFLE-JOIN scrub shape for corpora whose shared-window
    * frontier exceeds any driver budget — the [[substringScrub]] /
    * broadcast analogue of the screenDocsIndexed/screenDocsJoin
    * duality. The broadcast frontier grows with the corpus'
    * DUPLICATION VOLUME, not its vocabulary (every window of every
    * duplicated doc is shared), so a dup-heavy 100 TB crawl breaches
    * `maxShared` long before the vocabulary is interesting; this
    * shape never collects:
    *
    *  1. per-OCCURRENCE postings `(h, doc_id, pos)` (two longs + an
    *     int; positions matter — coverage is positional);
    *  2. window owners = ONE partial-agged `min(doc_id)` per hash
    *     (no df filter needed: a df-1 window's owner is the doc
    *     itself and can never scrub);
    *  3. postings ⋈ owners on the 8-byte hash, `owner < doc_id`
    *     keeps the BAD positions, collected per doc as a sorted
    *     int array;
    *  4. one id-keyed join back onto the docs — text crosses a
    *     shuffle ONCE — and the same coverage rebuild as the
    *     broadcast path.
    *
    * Output is identical to [[substringScrub]] by construction
    * (CorpusOpsSpec pins the set equality); prefer the broadcast
    * shape whenever the frontier fits — it never shuffles text.
    */
  def substringScrubJoin(docs: DataFrame, w: Int = 8): DataFrame = {
    require(w >= 2 && w <= 64, s"w out of range: $w")
    spanScrubJoin(docs, w, duckTokens, windowHashes(_, w, ' '), " ")
  }

  /** The never-collects span scrub behind [[substringScrubJoin]] and
    * [[sentenceSpanScrubJoin]]: `unitsOf` splits a doc into units,
    * `hashesOf` hashes every `w`-unit window start, survivors rejoin
    * with `sep`.
    */
  private def spanScrubJoin(docs: DataFrame, w: Int,
      unitsOf: String => Array[String],
      hashesOf: Array[String] => Array[Long], sep: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ds = docs.select(col("doc_id"), col("text")).as[(Long, String)]
    val occ = ds
      .flatMap { case (id, t) =>
        hashesOf(unitsOf(t)).iterator.zipWithIndex
          .map { case (h, i) => (h, id, i) }
      }
      .toDF("h", "doc_id", "pos")
    val owners = occ.groupBy(col("h"))
      .agg(min(col("doc_id")).as("owner"))
    val bad = occ.join(owners, Seq("h"))
      .filter(col("owner") < col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("bad"))
    ds.toDF("doc_id", "text")
      .join(bad, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("bad"), array()).as("bad"))
      .as[(Long, String, Seq[Int])]
      .map { case (id, t, badPos) =>
        val units = unitsOf(t)
        val cut = new Array[Boolean](units.length)
        badPos.foreach { p =>
          var j = p
          while (j < p + w && j < units.length) { cut(j) = true; j += 1 }
        }
        val (txt, kept, dropped) = rejoin(units, cut, sep)
        (id, txt, kept, dropped)
      }
      .toDF("doc_id", "clean_text", "n_kept", "n_dropped")
      .orderBy(col("doc_id"))
  }

  /** D15 — SPAN-LEVEL SUBSTRING SCRUB: the APPLY form of D10's
    * exact-substring criterion, done the way the Lee et al. 2022
    * pipeline (arXiv:2107.06499) actually edits the corpus — REMOVE
    * the duplicated span, not the document: every token covered by a
    * verbatim `w`-token window that also occurs in an EARLIER
    * (lower doc_id) document is cut, and the surviving tokens are
    * rejoined in order (single spaces — the tokenizer-canonical form;
    * original inter-token whitespace is not preserved). The first
    * occurrence keeps its text; exact duplicates therefore scrub to
    * an empty `clean_text` (substring dedup subsumes exact dedup),
    * and docs sharing only a quoted passage lose just the passage —
    * [[lineDedup]] generalized from line granularity to token
    * windows.
    *
    * Scale shape (the [[lineDedup]] two-scan recipe): only windows
    * with df ≥ 2 can scrub anything (a df-1 window's min owner is the
    * doc itself), so the frontier is (hash, min-owner) of SHARED
    * windows only — per-doc-distinct 8-byte emits, partial-agged
    * min/count, bounded driver collect guarded by `maxShared` with a
    * loud failure (~16 bytes/window; the default 4M ≈ 64 MB),
    * broadcast as two sorted primitive arrays. The rebuild scan is a
    * pure typed map — zero data shuffles, text never crosses the
    * wire. Exact up to 64-bit window-hash collisions (the hash-key
    * family contract).
    */
  def substringScrub(docs: DataFrame, w: Int = 8,
      maxShared: Int = 4000000): DataFrame =
    frontierRebuild(docs, Nil, spread = true,
      sharedWindowFrontier(docs, w, maxShared))(windowScrub(w))
      .orderBy(col("doc_id"))

  /** The registered `substring_scrub` query: natural word-soup shares
    * no verbatim 8-token windows, so (the screen_ngram_overlap
    * planting precedent) a fixed 10-token passage is appended to
    * every doc_id ≡ 5 (mod 13) — its three fully-internal windows are
    * shared by all planted docs, so the LOWEST planted id keeps the
    * passage and every later one is scrubbed back to its original
    * text, while each doc's bridge windows (suffix + passage prefix)
    * stay unique and uncut. The corpus' planted exact-dup groups
    * exercise the full-scrub path (every window owned by the group
    * minimum → empty clean_text). The oracle builds the identical
    * text in SQL.
    */
  def substringScrubQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val phrase = (0 until 10).map(i => s"sp$i").mkString(" ")
    val planted = documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 13 === 5,
        concat(col("text"), lit(" " + phrase)))
        .otherwise(col("text")).as("text"))
    substringScrub(planted)
  }

  /** Sentence units of a document: maximal segments each ending
    * after a RUN of terminal marks ('.', '!', '?'); a trailing
    * unterminated segment is its own unit. Units KEEP their original
    * bytes (leading whitespace, the terminal run), so concatenating
    * all units reproduces the text exactly and a scrub's rebuild is
    * plain concatenation of survivors. Identical to the oracle's
    * `regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+')` (RE2
    * leftmost-first: the terminal-run alternative wins wherever a
    * terminal follows; no empty matches).
    */
  private[graft] def splitSentenceUnits(t: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    @inline def isTerm(c: Char) = c == '.' || c == '!' || c == '?'
    var s = 0
    var i = 0
    while (i < t.length) {
      if (isTerm(t.charAt(i))) {
        var j = i + 1
        while (j < t.length && isTerm(t.charAt(j))) j += 1
        out += t.substring(s, j)
        s = j
        i = j
      } else i += 1
    }
    if (s < t.length) out += t.substring(s)
    out.toArray
  }

  /** The shared-window frontier of [[sentenceSpanScrub]]'s df pass —
    * the [[sharedWindowFrontier]] recipe at sentence-window
    * granularity: `(sorted window hashes, aligned min-owner ids)` of
    * windows present in ≥ 2 docs, bounded loud driver collect.
    */
  def sharedSentenceFrontier(docs: DataFrame, n: Int = 3,
      maxShared: Int = 4000000): (Array[Long], Array[Long]) = {
    require(n >= 2 && n <= 64, s"n out of range: $n")
    sharedFrontier(docs, spread = false,
      r => windowHashes(splitSentenceUnits(r.getString(1)), n, 0L),
      maxShared,
      s"shared-sentence frontier exceeds maxShared=$maxShared (~16 " +
        "bytes per window on the driver and in the broadcast) — raise " +
        "the budget knowingly or raise n; refusing an unbounded " +
        "driver collect")
  }

  /** T35 — THREE-SENTENCE-SPAN DEDUP (the LITERAL C4 dedup unit,
    * Raffel et al. 2020 §2.2: "we discarded all but one of any
    * three-sentence span occurring more than once"): every sentence
    * covered by an `n`-sentence window that also occurs in an
    * EARLIER (lower doc_id) document is cut; survivors CONCATENATE
    * back (units carry their own bytes — rebuild is byte-exact, no
    * separator guessing). [[substringScrub]]'s recipe at sentence
    * granularity, completing the released C4 pipeline together with
    * [[TextOps.c4Apply]] (compose: clean pages, then span-dedup the
    * survivors — the registered `pipeline_c4`).
    *
    * Scale shape (the substringScrub two-scan recipe): only df ≥ 2
    * windows can scrub, so the frontier is (hash, min-owner) of
    * SHARED windows only — per-doc-distinct 8-byte emits, partial-
    * agged min/count, bounded loud driver collect, broadcast sorted
    * primitive arrays; the rebuild is ONE zero-shuffle typed map.
    * Exact up to 64-bit window-hash collisions.
    */
  def sentenceSpanScrub(docs: DataFrame, n: Int = 3,
      maxShared: Int = 4000000): DataFrame =
    frontierRebuild(docs, Nil, spread = false,
      sharedSentenceFrontier(docs, n, maxShared))(sentenceScrub(n))
      .orderBy(col("doc_id"))

  /** The per-doc sentence-window kernel shared by the batch rebuild
    * scan and the X20 stream: cut every sentence unit covered by a
    * frontier window whose owner is a LOWER id, concatenate
    * survivors (units carry their own bytes; [[scrubSegments]]).
    * Returns (clean_text, n_kept, n_dropped).
    */
  private[graft] def scrubSentences(t: String, id: Long,
      keys: Array[Long], owners: Array[Long],
      n: Int): (String, Long, Long) = {
    val units = splitSentenceUnits(t)
    scrubSegments(units, windowHashes(units, n, 0L), keys, owners, id, n,
      "")
  }

  /** The NEVER-COLLECTS shape of [[sentenceSpanScrub]] (the
    * [[substringScrubJoin]] port): per-occurrence (hash, doc, pos)
    * postings ⋈ partial-agged min-owners on the 8-byte hash →
    * per-doc sorted bad-position arrays → ONE id-keyed join back to
    * the text → rebuild. No driver frontier, no broadcast — survives
    * a shared-window volume past any driver budget; the frontier
    * grows with DUPLICATION, which is exactly when the broadcast
    * shape's collect blows up. Spec'd set-equal to the broadcast
    * shape (df-1 windows are self-owned, so the `owner < doc_id`
    * filter reproduces the df ≥ 2 frontier semantics exactly).
    */
  def sentenceSpanScrubJoin(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 64, s"n out of range: $n")
    spanScrubJoin(docs, n, splitSentenceUnits, windowHashes(_, n, 0L), "")
  }

  /** The registered `sentence_span_scrub` query: word soup carries
    * no terminal marks, so every raw doc is ONE unterminated unit
    * and no 3-sentence window exists — the query PLANTS a shared
    * three-sentence passage onto doc_id ≡ 2 (mod 9) after
    * terminating the original text with '.' (stated identically in
    * the oracle SQL): planted docs gain units [text., shr0., shr1!,
    * shr2?]; the window over the three shared units has df = the
    * planted count, so the LOWEST planted id keeps the passage and
    * every later one scrubs back to its own "text." unit, while each
    * doc's leading window (containing its unique text) never fires.
    */
  def sentenceSpanScrubQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    sentenceSpanScrub(sentenceScrubPlanted(spark, sfDir))

  /** Registered `sentence_span_scrub_join` — the never-collects
    * shape over the SAME planted fixture; its output contract is
    * identical, so it hash-checks against the same oracle.
    */
  def sentenceSpanScrubJoinQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    sentenceSpanScrubJoin(sentenceScrubPlanted(spark, sfDir))

  private def sentenceScrubPlanted(spark: SparkSession,
      sfDir: String): DataFrame =
    documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 9 === 2,
        concat(col("text"),
          lit(". shr zero. shr one! shr two?")))
        .otherwise(col("text")).as("text"))

  /** T36 — CORPUS VERSION DIFF: the audit a daily ingest runs after
    * every rebuild — given two corpus versions keyed by doc_id,
    * classify every id as `added` (v2 only), `removed` (v1 only),
    * `modified` (present in both, canonical fingerprint differs) or
    * `unchanged`. The canonical-md5 identity (whitespace-collapse,
    * the dedup_exact form) means a reflow is NOT a modification —
    * the verdict tracks content, not bytes.
    *
    * Scale shape: two scan-bound fingerprint projections + ONE
    * full-outer join on the 8-byte id — the TEXT never joins; at
    * 100 TB this is a co-partitionable id join (bucket both versions
    * by doc_id and the shuffle disappears entirely).
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.fingerprintMd5
    val a = v1.select(col("doc_id"), fingerprintMd5(col("text")).as("fp_old"))
    val b = v2.select(col("doc_id"), fingerprintMd5(col("text")).as("fp_new"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") =!= col("fp_new"), lit("modified"))
          .otherwise(lit("unchanged")).as("verdict"),
        col("fp_old"), col("fp_new"))
      .orderBy(col("doc_id"))
  }

  /** The registered `corpus_diff` query: two versions carved from
    * the sf table on coprime moduli — v1 drops doc_id ≡ 3 (mod 17)
    * (those become `added`), v2 drops ≡ 5 (mod 13) (`removed`) and
    * rewrites the text of ≡ 1 (mod 7) (`modified`); everything else
    * is `unchanged`. All four verdicts occur; the oracle states the
    * identical carving in SQL.
    */
  def corpusDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = documents(spark, sfDir)
    val v1 = docs.filter(col("doc_id") % 17 =!= 3)
    val v2 = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 1, concat(col("text"), lit(" v2edit")))
          .otherwise(col("text")).as("text"))
    corpusDiff(v1, v2)
  }

  /** T16 — corpus DATA CARD: the per-source report a pipeline records
    * alongside every training-data release — document/token/char
    * volumes, exact-duplicate uniqueness, decimal-exact mean quality,
    * and the English share (per the heuristic language ID). Every
    * column is ORACLE-CHECKED: counts and sums are integer-exact, the
    * quality mean goes through [[graft.Tables.davg]]'s decimal
    * lattice, so the whole card is engine-reproducible — a data card
    * that cannot drift between the engine that built the corpus and
    * the engine that audits it.
    *
    * Scale shape: one corpus scan — every metric is a one-pass kernel
    * projection — into a partial-agged groupBy on `source` (#sources
    * rows out). `countDistinct(fp)` expands to the standard two-level
    * aggregate: (source, fp) partial dedup before the shuffle, so the
    * exchange carries at most one row per distinct fingerprint, never
    * per document.
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions.{tokenCount, qualityScore,
      langId, fingerprintMd5}
    documents(spark, sfDir)
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"),
        fingerprintMd5(col("text")).as("fp"),
        qualityScore(col("text")).as("q"),
        (langId(col("text")) === lit("en")).cast("long").as("is_en"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        countDistinct(col("fp")).as("n_unique"),
        graft.Tables.davg(col("q")).as("avg_quality"),
        sum(col("is_en")).as("n_en"))
      .orderBy(col("source"))
  }

  /** T28 — token-window DOC CHUNKING with overlap: split every
    * document into windows of `chunkTokens` tokens advancing by
    * `chunkTokens − overlap` (the embedding/RAG pre-chunk, and the
    * pre-chunk this engine's own bounds keep pointing at — the
    * dsir/lm dec12 overflow contracts and the jaccard posting packer
    * all say "pre-chunk oversized documents"; this is that operator).
    * Chunk rule: one chunk when the doc fits; otherwise starts at
    * 0, stride, 2·stride, … and the LAST chunk is the remainder from
    * its start to the end (may be shorter, never empty, always
    * starts within the doc). Chunk text is TOKEN-CANONICAL (tokens
    * re-joined on single spaces) — every token-level operator
    * downstream is invariant to that normalization, and it is what
    * makes the oracle byte-identical.
    *
    * Scale shape: a pure typed flatMap projection — zero shuffles,
    * zero aggregations; output fan-out is Θ(corpus tokens / stride).
    * Fully hash-checked (strings + ints only).
    */
  def chunkDocs(spark: SparkSession, sfDir: String,
      chunkTokens: Int = 2048, overlap: Int = 256): DataFrame =
    chunkDocsOf(documents(spark, sfDir), chunkTokens, overlap)

  /** T29 — VOCABULARY GROWTH CURVE (Heaps' law diagnostic): for each
    * `step`-doc prefix of the corpus in doc_id order, the cumulative
    * token count, the number of never-before-seen words the bucket
    * introduced, and the cumulative vocabulary. The data-card curve
    * that sizes BPE vocab budgets, predicts dedup yield (a flattening
    * curve means replication), and spots ingestion anomalies (a
    * vocab spike mid-corpus is a new source or an encoding bug).
    *
    * Exact, not sampled: a word's first sighting is `min(doc_id)` —
    * one partial-agged groupBy over hashed tokens; bucket counts are
    * tiny (`n_docs/step` rows) and their running sums go through
    * [[graft.plans.GlobalOrder.withPrefixSum]] all the same (a
    * small-frame window would be harmless today and a review trap
    * tomorrow). Buckets carrying no documents don't exist; buckets
    * whose words were all seen before report `new_words = 0`.
    * Fully hash-checked (ints only).
    */
  def vocabGrowth(spark: SparkSession, sfDir: String,
      step: Long = 50L): DataFrame = {
    require(step >= 1, s"step must be >= 1: $step")
    import spark.implicits._
    val tok = documents(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => duckTokens(t).map(w => (id, lineHash(w))) }
      .toDF("doc_id", "w")
    val buckets = tok
      .select(expr(s"doc_id div ${step}L").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("toks"))
    val firsts = tok.groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      .select(expr(s"fd div ${step}L").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nw"))
    val joined = buckets.join(firsts, Seq("b"), "left")
      .select(col("b"), col("toks"),
        coalesce(col("nw"), lit(0L)).as("new_words"))
    val cumToks = graft.plans.GlobalOrder
      .withPrefixSum(joined, Seq(col("b")), "toks", "tokens_seen")
    graft.plans.GlobalOrder
      .withPrefixSum(cumToks, Seq(col("b")), "new_words", "vocab")
      .select(((col("b") + 1L) * step).as("docs_seen"),
        col("tokens_seen"), col("new_words"), col("vocab"))
      .orderBy(col("docs_seen"))
  }

  /** The chunk kernel — token array → `(chunk_id, text, n_tokens)`
    * windows — shared verbatim by the batch operator and
    * [[graft.streaming.StreamingOps.streamingChunk]] (the scrubTokens
    * convention: one kernel, two execution modes, identical output).
    */
  private[graft] def chunkWindows(tk: Array[String], chunkTokens: Int,
      overlap: Int): Iterator[(Long, String, Long)] = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap")
    val stride = chunkTokens - overlap
    val n = tk.length
    val nChunks =
      if (n <= chunkTokens) 1
      else (n - chunkTokens + stride - 1) / stride + 1
    (0 until nChunks).iterator.map { i =>
      val s = i * stride
      val e = math.min(s + chunkTokens, n)
      (i.toLong, tk.slice(s, e).mkString(" "), (e - s).toLong)
    }
  }

  /** [[chunkDocs]] over an arbitrary `(doc_id, text)` frame — the
    * composable core. `overlap` must leave a positive stride. */
  def chunkDocsOf(docs: DataFrame, chunkTokens: Int = 2048,
      overlap: Int = 256): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        chunkWindows(duckTokens(t), chunkTokens, overlap)
          .map { case (cid, txt, n) => (id, cid, txt, n) }
      }
      .toDF("doc_id", "chunk_id", "text", "n_tokens")
      .orderBy(col("doc_id"), col("chunk_id"))
  }
}

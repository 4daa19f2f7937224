package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents

/** P1 — the FULL production recipe as ONE composed operator: what a
  * training-data pipeline actually ships when it turns a raw crawl
  * into packed training batches. Stage order is the standard curation
  * sequence (CCNet/C4/RefinedWeb-style):
  *
  *  1. model-scored QUALITY gate (T15, pure projection) — drop
  *     low-score docs before anything expensive touches them;
  *  2. LINE-level boilerplate removal (T19) — repeated chrome
  *     (df ≥ minDf) cut from every survivor, text rebuilt;
  *  3. scored FUZZY DEDUP (D4 → D8 → D12) over the CLEANED text —
  *     pairs derived ONCE, clusters resolved from them, each cluster
  *     keeping its highest-quality member;
  *  4. contamination SCREEN (D7/D11) — survivors overlapping the
  *     reference subset above threshold are dropped, refs stay;
  *  5. temperature SOURCE MIXING (T13) — √-weighted per-source token
  *     budgets, md5-deterministic selection;
  *  6. sequence PACKING (T10) — offset packing of the final corpus
  *     into targetTokens bins.
  *
  * SHARED DERIVATIONS are the point of composing (vs calling the six
  * registered queries, each of which re-derives its inputs from the
  * raw table): the cleaned corpus is localCheckpointed ONCE and feeds
  * dedup scoring, the screen, the mixer and the packer; the jaccard
  * pair list is localCheckpointed ONCE and feeds cluster resolution
  * (the dedup_chain_shared precedent, SURVEY §8g — 27 s vs ~83 s
  * summed at the 100× probe). `share = false` disables both
  * checkpoints; PipelineSpec pins that the output SET is identical
  * either way, and equals the stagewise application of the standalone
  * stage operators.
  *
  * Scale shape: every stage keeps its standalone shape (kernel
  * projections, partial-agged postings, star-contraction, id-only
  * anti-joins, keyed prefix-sums); the composition adds NO new
  * shuffle — stage handoffs are semi/anti joins on 8-byte ids, and
  * text crosses the wire only at the two checkpoint writes.
  * ORACLE-CHECKED end to end: the DuckDB statement composes the
  * quality CTEs, the line-dedup rebuild, the recursive pair closure
  * + scored keeper (a second quality chain over the CLEANED text,
  * exactly as stage 3 scores it), the screen, integer-target mixing
  * and offset packing — every output column is an int or string, so
  * the whole recipe hash-matches; PipelineSpec additionally pins the
  * stagewise set-equality and share-on/off equivalence.
  *
  * FAULT-TOLERANCE CONTRACT OF `share` (every `localCheckpoint` site
  * in this library — the canonical statement; SURVEY §5 carries the
  * deployment guidance): `localCheckpoint(true)` truncates lineage
  * and stores the blocks on EXECUTOR storage only. On a
  * multi-executor cluster, losing any executor that holds a block
  * makes the truncated lineage unrecoverable and FAILS the query —
  * Spark cannot recompute past a local checkpoint — where the
  * un-checkpointed plan would have recomputed and survived. The
  * trade is: `share = true` buys one derivation instead of N scans
  * but stakes the run on zero executor loss; `share = false` removes
  * the RECIPE-level checkpoints at the price of re-deriving the
  * shared frame per consumer. CAVEAT (exposed by the r19
  * executor-loss chaos harness, graft.ChaosCheck, which pins all
  * three behaviors under real executor kills): `share = false` is
  * full retry-ability only for recipes whose dedup stage is span- or
  * line-level (P2 scrub, P4 C4) — the doc-level cluster dedup stage
  * ([[Clusters]] clusterPairs — among the composed recipes only P1
  * uses it; P6's dedup stage is exact fingerprints)
  * truncates lineage per contraction round UNCONDITIONALLY (10+
  * rounds of exponential lineage leave no alternative), so those
  * recipes still fail loudly on executor loss under `share = false`.
  * At local[32] (one JVM) the risk term is zero and the default is
  * right unconditionally. For multi-hour 1000-executor runs, either
  * pass `share = false` (span/line-level recipes), or — the
  * prescribed cluster-scale answer, EXERCISED since r20 — set
  * [[graft.plans.Lineage.ReliableConf]] (`spark.graft.
  * reliableCheckpoint = true`) plus `SparkContext.setCheckpointDir`
  * on fault-tolerant storage BEFORE composing the recipe: every
  * truncation site in the library (the recipe shares here, the
  * [[Clusters]] per-round star contraction, D17's candidate frame,
  * knnGraphIvf's shared assignment, the ppl-select score shares,
  * media signatures) then rides a reliable `.checkpoint()` instead
  * of executor-resident blocks — ChaosCheck scenario 4 kills every
  * executor AFTER that composition and pins the identical recount.
  * Alternatively, materialize the shared frames to parquet and feed
  * the stage-level operators: every composed recipe here has
  * standalone stage faces exactly so that callers can own the
  * materialization boundary.
  */
object Pipeline {

  def pipelineFull(docs: DataFrame,
      minDf: Int = 3,
      dedupThreshold: Double = 0.02,
      screenThreshold: Double = 0.05, refMod: Int = 7,
      mixBudget: Long = 20000L, packTarget: Long = 2048L,
      share: Boolean = true): DataFrame = {
    // 1. quality gate — T15's rational-arithmetic linear model
    val kept = docs
      .filter(TextOps.modelQualityScore(col("text")) >= lit(0.5))
    // 2. line dedup over the survivors; clean_text becomes the text
    //    every later stage sees (empty-text docs stay — corpus
    //    membership is the dedup stages' decision, per T19's contract).
    //    r20: `source` is CARRIED through the rebuild map instead of
    //    re-attached with a corpus-sized self-join on doc_id — the
    //    join's two exchanges moved the full cleaned text for an
    //    8-byte column (rows identical; PipelineSpec's stagewise pin)
    val cleaned = CorpusOps.frontierRebuild(kept, Seq("source"),
        spread = false, CorpusOps.bannedLineFrontier(kept, minDf))(
        CorpusOps.lineScrub)
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"),
        length(col("clean_text")).cast("long").as("n_chars"))
    val corpus = if (share) graft.plans.Lineage.truncate(cleaned) else cleaned
    // 3. ONE pair derivation → clusters → best-quality keeper
    val pairs0 = Dedup.jaccardPairsDocs(corpus, dedupThreshold)
      .select(col("doc_a"), col("doc_b"))
    val pairs = if (share) graft.plans.Lineage.truncate(pairs0) else pairs0
    val clusters = Clusters.clusterPairs(pairs)
    val deduped = Clusters.dedupApplyBestKeepAll(corpus, clusters)
    screenMixPack(deduped, screenThreshold, refMod, mixBudget,
      packTarget, share)
  }

  /** The shared recipe tail (stages 4–6): decontamination screen
    * (refs stay), temperature mixing, offset packing. `corpus` must
    * carry (doc_id, source, text).
    */
  private def screenMixPack(corpus0: DataFrame, screenThreshold: Double,
      refMod: Int, mixBudget: Long, packTarget: Long,
      share: Boolean): DataFrame = {
    // r21: the recipe tail consumes its input ~5× (screen kernel
    // scan, the anti-join, the mixer, the semi-join, the packer +
    // source re-join) — and the input arrives as a DERIVED frame
    // (P1: cluster-dedup scoring over the cleaned corpus; P2: the
    // substring-scrub rebuild kernel), so each consumer replayed the
    // derivation even though the frame UNDER it was checkpointed.
    // One more bounded truncation under the same share knob makes
    // the tail read the dedup/scrub output once (measured at sf0.1:
    // pipeline_scrub 5.1 → see OPTIMIZATION_r21.md; rows identical,
    // PipelineSpec's stagewise + share on/off pins).
    val corpus = if (share) graft.plans.Lineage.truncate(corpus0)
      else corpus0
    val flagged = Dedup.screenDocs(corpus, screenThreshold, refMod)
      .select(col("doc_id")).distinct()
    val screened = corpus.join(flagged, Seq("doc_id"), "left_anti")
    val picked = CorpusOps.mixSourcesDocs(screened, mixBudget)
      .select(col("doc_id"))
    val mixed0 = screened.join(picked, Seq("doc_id"), "left_semi")
    // the packer and the source re-join both consume `mixed`; without
    // this the screen + mixer chain replays per consumer (same share
    // rationale as above; the frame is a subset of `corpus`)
    val mixed = if (share) graft.plans.Lineage.truncate(mixed0)
      else mixed0
    CorpusOps.packSequencesDocs(mixed, packTarget)
      .join(mixed.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"))
      .orderBy(col("doc_id"))
  }

  /** P2 — the SPAN-LEVEL curation recipe: the same chain with the
    * Lee et al. substring SCRUB (D15) as the dedup stage instead of
    * doc-level cluster dedup — duplicated spans are REMOVED from
    * later docs, documents survive — followed by a minimum-length
    * gate (`minTokens`, the Gopher-style filter every span-removal
    * pipeline runs next: exact dups scrub to nothing and must not
    * reach packing as empty rows). Stages: T15 quality gate → T19
    * line dedup → D15 substring scrub → length gate → D7/D11 screen
    * → T13 mixing → T10 packing, over the same shared-derivation
    * skeleton as [[pipelineFull]].
    *
    * Oracle-checked end to end like P1: the scrub stage's
    * window-ownership/coverage SQL composes into the same CTE chain;
    * output is all ints/strings. PipelineSpec pins the stagewise
    * set-equality and the length-gate invariant. `share = true`
    * trades executor-loss retry-ability for scan count — see the
    * [[Pipeline]] fault-tolerance contract (SURVEY §5).
    */
  def pipelineScrub(docs: DataFrame,
      minDf: Int = 3, w: Int = 8, minTokens: Long = 8L,
      screenThreshold: Double = 0.05, refMod: Int = 7,
      mixBudget: Long = 20000L, packTarget: Long = 2048L,
      share: Boolean = true): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1: $minTokens")
    val kept = docs
      .filter(TextOps.modelQualityScore(col("text")) >= lit(0.5))
    // r20: source carried through the rebuild maps instead of
    // re-attached by corpus-sized doc_id self-joins (the P1 change)
    val cleaned = CorpusOps.frontierRebuild(kept, Seq("source"),
        spread = false, CorpusOps.bannedLineFrontier(kept, minDf))(
        CorpusOps.lineScrub)
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"))
    val corpus = if (share) graft.plans.Lineage.truncate(cleaned) else cleaned
    // 3'. span-level scrub over the cleaned text + length gate
    val scrubbed = CorpusOps.frontierRebuild(corpus, Seq("source"),
        spread = true, CorpusOps.sharedWindowFrontier(corpus, w))(
        CorpusOps.windowScrub(w))
      .filter(col("n_kept") >= minTokens)
      .select(col("doc_id"), col("source"),
        col("clean_text").as("text"))
    screenMixPack(scrubbed, screenThreshold, refMod, mixBudget,
      packTarget, share)
  }

  /** P3 — the DAILY-INGEST recipe (r12c): what a crawl job runs every
    * day against yesterday's corpus — screen the increment against
    * the PERSISTED index (exact fingerprints D14 + near signatures
    * D16), gate the survivors with the Gopher rules (T30), and emit
    * the kept documents. ONE sketch pass over the increment
    * ([[IncrementalDedup.buildIndex]], localCheckpointed under
    * `share`) feeds the exact screen, the near screen, and — in a
    * real deployment — tomorrow's [[IncrementalDedup.appendIndex]]
    * rows for the kept ids (the shared-derivation convention). Stage
    * handoffs are id-only anti joins; the old corpus contributes
    * nothing but its ~280 B/doc index. `share = true` trades
    * executor-loss retry-ability for one sketch pass — see the
    * [[Pipeline]] fault-tolerance contract (SURVEY §5).
    */
  def pipelineIngest(inc: DataFrame, index: DataFrame,
      minEst: Double = 0.5,
      stopWords: Seq[String] = TextOps.GopherStopList,
      share: Boolean = true): DataFrame = {
    val incIx0 = IncrementalDedup.buildIndex(inc)
    val incIx = if (share) graft.plans.Lineage.truncate(incIx0) else incIx0
    // r21: the INDEX side is consumed twice too (exact screen + near
    // screen) — when it arrives as an unmaterialized buildIndex plan
    // (the registered query), the old-corpus sketch kernel ran once
    // per screen; the same share knob that guards incIx now shares it
    // (a production caller loading a persisted index pays nothing —
    // truncating a parquet scan is one cheap materialization)
    val ix = if (share) graft.plans.Lineage.truncate(index) else index
    val exactDup = IncrementalDedup.screenExactSigs(incIx, ix)
      .filter(col("is_dup") === 1).select(col("doc_id"))
    val nearDup = IncrementalDedup
      .screenNearSigs(incIx, ix, minEst = minEst)
      .select(col("doc_id")).distinct()
    // fenced: the keep === 0 predicate otherwise pushes below the
    // gopher projection and re-runs the gopher_stats kernel once per
    // substituted rule reference (×18/row — the r17 Filter lint).
    // ONE consumer of the fenced frame: a fence is an iterator
    // handoff, not a materialization, so the former keep===0
    // anti-join branch + n_words join pair re-ran the kernel scan
    // once per consumer (2×/row). keep===1 on the inner join is
    // row-identical for every doc with non-null text (gopher emits
    // exactly one row per inc doc); a NULL text yields null stats
    // and null keep, which this shape DROPS where the old keep===0
    // anti-join retained it — deliberate, not incidental: a document
    // with no text cannot satisfy a word-count gate, and admitting
    // it with null n_words only defers the failure downstream
    // (spec-pinned in PipelineSpec)
    val gopher = graft.plans.Fence.stageBarrier(
      TextOps.qualityGopherDocsOf(inc, stopWords))
    inc.select(col("doc_id"), col("source"))
      .join(exactDup, Seq("doc_id"), "left_anti")
      .join(nearDup, Seq("doc_id"), "left_anti")
      .join(gopher.filter(col("keep") === 1)
        .select(col("doc_id"), col("n_words")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_words"))
      .orderBy(col("doc_id"))
  }

  /** The registered `pipeline_ingest` query: old half (doc_id % 5
    * ≠ 0) is the indexed corpus, the rest is today's increment; the
    * corpus-fitting stop list (see `quality_gopher` in TextRegistry).
    */
  def pipelineIngestQuery(spark: SparkSession, sfDir: String): DataFrame =
    pipelineIngest(IncrementalDedup.newDocs(spark, sfDir),
      IncrementalDedup.buildIndex(IncrementalDedup.oldDocs(spark, sfDir)),
      stopWords = Seq("the", "a"))

  /** P3b — the VERIFIED daily-ingest recipe: [[pipelineIngest]] with
    * the near-dup drop decided by the EXACT jaccard (the D17 tail)
    * instead of the k=32 estimate — a doc is dropped only when a
    * flagged candidate VERIFIES at the threshold, so a boundary
    * estimate (±2σ ≈ ±0.18) can no longer discard novel text. Costs
    * one extra id-bounded text-fetch join over P3 (the corpus text
    * joins by ref_id, bounded by flag volume — this variant needs
    * the kept CORPUS frame, which P3's index-only contract
    * deliberately avoids; use P3 when yesterday's text is not
    * reachable, P3b when a false near-dup drop is the dearer error).
    * `share = true` trades executor-loss retry-ability for one
    * sketch pass — see the [[Pipeline]] fault-tolerance contract
    * (SURVEY §5).
    */
  def pipelineIngestVerified(inc: DataFrame, index: DataFrame,
      corpus: DataFrame, threshold: Double = 0.5,
      stopWords: Seq[String] = TextOps.GopherStopList,
      share: Boolean = true): DataFrame = {
    val incIx0 = IncrementalDedup.buildIndex(inc)
    val incIx = if (share) graft.plans.Lineage.truncate(incIx0) else incIx0
    // r21: share the index side across both screens (the P3 comment)
    val ix = if (share) graft.plans.Lineage.truncate(index) else index
    val exactDup = IncrementalDedup.screenExactSigs(incIx, ix)
      .filter(col("is_dup") === 1).select(col("doc_id"))
    val cand = IncrementalDedup.screenNearSigs(incIx, ix,
      minEst = math.max(0.0, threshold - 0.2))
    // no checkpoint here: verifyNearPairs materializes the candidate
    // frame itself (pair-sized, correctness-bearing — its three
    // consumers must see ONE candidate set), so a second one would
    // just double-store it
    val nearDup = IncrementalDedup
      .verifyNearPairs(cand, inc, corpus, threshold)
      .select(col("doc_id")).distinct()
    // fenced — the P3 rationale (gopher_stats ×18/row otherwise),
    // and ONE consumer of the fenced frame (the P3 2×/row fix);
    // null-text docs are dropped by keep===1 exactly as in P3
    // (deliberate — see the P3 comment; spec-pinned)
    val gopher = graft.plans.Fence.stageBarrier(
      TextOps.qualityGopherDocsOf(inc, stopWords))
    inc.select(col("doc_id"), col("source"))
      .join(exactDup, Seq("doc_id"), "left_anti")
      .join(nearDup, Seq("doc_id"), "left_anti")
      .join(gopher.filter(col("keep") === 1)
        .select(col("doc_id"), col("n_words")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_words"))
      .orderBy(col("doc_id"))
  }

  /** The registered `pipeline_ingest_verified` query (the
    * pipelineIngestQuery split + the old half's text for the verify
    * tail).
    */
  def pipelineIngestVerifiedQuery(spark: SparkSession,
      sfDir: String): DataFrame =
    pipelineIngestVerified(IncrementalDedup.newDocs(spark, sfDir),
      IncrementalDedup.buildIndex(IncrementalDedup.oldDocs(spark, sfDir)),
      IncrementalDedup.oldDocs(spark, sfDir),
      stopWords = Seq("the", "a"))

  /** P4 — the LITERAL RELEASED C4 PIPELINE (r13, Raffel et al. 2020
    * §2.2 end to end): clean every page with the published line and
    * page rules ([[TextOps.c4Apply]] — kept lines rebuilt, failing
    * pages dropped), then discard all but the first occurrence of
    * any three-sentence span across the surviving corpus
    * ([[CorpusOps.sentenceSpanScrub]] — the paper's actual dedup
    * unit). Two scans + one bounded frontier; the page gate shrinks
    * the corpus BEFORE the span pass mines its frontier (the
    * pipeline_full ordering rationale), and the handoff carries only
    * (doc_id, clean_text) — no re-derivation, no extra shuffle.
    * `share = true` trades executor-loss retry-ability for the
    * second clean-corpus scan — see the [[Pipeline]] fault-tolerance
    * contract (SURVEY §5).
    */
  def pipelineC4(docs: DataFrame, badWords: Seq[String] = Nil,
      minLineWords: Int = 5, minSentences: Int = 3, spanUnits: Int = 3,
      maxShared: Int = 4000000, share: Boolean = true): DataFrame = {
    // the span stage consumes its input TWICE (frontier mine +
    // rebuild scan): under `share` the cleaned corpus materializes
    // ONCE (the P1 localCheckpoint convention) instead of re-running
    // the page gate per consumer — 100× probe 7.35 s unshared →
    // 6.16 s shared (the second gate pass saved, minus the
    // checkpoint write); share=false keeps the pure-recompute plan
    // for the equivalence spec
    val cleaned0 = TextOps
      .c4Apply(docs, badWords, minLineWords, minSentences)
      .select(col("doc_id"), col("clean_text").as("text"))
    val cleaned = if (share) graft.plans.Lineage.truncate(cleaned0) else cleaned0
    CorpusOps.sentenceSpanScrub(cleaned, spanUnits, maxShared)
  }

  /** The registered `pipeline_c4` query: the `quality_c4` fixture
    * plus a shared three-sentence passage on doc_id ≡ 2 (mod 4)
    * (appended AFTER the closing good line, each line clearing the
    * ≥ 5-word rule so the C4 gate keeps it) — the span pass then has
    * real df ≥ 2 windows to scrub, and the lowest kept planted id
    * owns the passage. Stated identically in the oracle SQL.
    */
  def pipelineC4Query(spark: SparkSession, sfDir: String): DataFrame =
    pipelineC4(TextOps.c4PlantedDocsWith(spark, sfDir,
      when(col("doc_id") % 4 === 2, lit(
        "\nshared span alpha beta gamma one." +
          "\nshared span delta epsilon zeta two!" +
          "\nshared span eta theta iota three?")).otherwise(lit(""))),
      badWords = Seq("badword"))

  /** The duplicate page `pipeline_signals` plants on doc_id ≡ 7
    * (mod 50): six distinct ≥5-word terminal-punctuated lines, ≥50
    * words with both registered stop words, no repetition, no page
    * flags — it passes every core gate, so the ten planted copies
    * reach the dedup stage and nine genuinely drop. ONE definition:
    * the oracle SQL builds its literal from this list.
    */
  private[graft] val SignalsDupPage: Seq[String] = Seq(
    "the quick brown fox jumps over a lazy sleeping dog.",
    "every morning the children walk to school in bright sunshine.",
    "a gentle river flows through the quiet valley of stones.",
    "farmers plant seeds and water them in the warm season.",
    "the library keeps many books of history and modern science.",
    "travelers often rest here and enjoy a warm evening meal.")

  /** P5 — SIGNALS-GATED RELEASE RECIPE (r15): the modern release
    * shape (the RedPajama-v2 / FineWeb lineage): materialize the T38
    * signals ONCE, keep the conjunction of the four SQL-stateable
    * gates, exact-dedup the survivors (D1's canonical-fingerprint
    * rule, min-id keeper). ONE corpus scan feeds gate AND fingerprint
    * (the signals projection carries the text column to the
    * fingerprint kernel — no second scan, no join); the only
    * shuffles are the fingerprint window and the output sort, and
    * the text never crosses either (fp is computed before the
    * exchange). Emits the released corpus as (doc_id, fp).
    */
  def pipelineSignals(docs: DataFrame,
      stopWords: Seq[String], badWords: Seq[String]): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
    // fence between the signals projection and the keep filter — the
    // releaseCapped rationale (see [[graft.plans.Fence]]): without it
    // the pushed-down filter re-evaluates the kernels per conjunct
    // and the fused span falls back to interpreted at 64 KB
    graft.plans.Fence.stageBarrier(
      TextOps.qualitySignalsOf(docs, stopWords, badWords,
          carry = Seq("text"))
        .select(col("doc_id"), col("text"), col("keep_gopher"),
          col("keep_rep"), col("keep_c4"), col("keep_model")))
      .filter(col("keep_gopher") === 1 && col("keep_rep") === 1 &&
        col("keep_c4") === 1 && col("keep_model") === 1)
      .select(col("doc_id"),
        graft.functions.TextFunctions.fingerprintMd5(col("text"))
          .as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** The registered `pipeline_signals` query: the `quality_signals`
    * fixture with [[SignalsDupPage]] REPLACING the text of doc_id ≡ 7
    * (mod 50) — identical pages that pass every gate, so the dedup
    * stage genuinely drops all but the lowest id. Stated identically
    * in the oracle SQL (one page definition, both sides).
    */
  def pipelineSignalsQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val page = SignalsDupPage.mkString("\n")
    val docs = TextOps.c4PlantedDocs(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 7, lit(page))
          .otherwise(col("text")).as("text"))
    pipelineSignals(docs, Seq("the", "a"), Seq("badword"))
  }

  /** P6 — THE FULL MODERN RELEASE PIPELINE (r15): every published
    * curation stage family in its canonical order, composed end to
    * end (the RefinedWeb/FineWeb shape):
    *
    *  1. URL/DOMAIN gate (T39) — blocklist + keyword rules kill pages
    *     before any text statistic is computed;
    *  2. one-scan QUALITY-SIGNALS gate (T38's keep_core — Gopher doc
    *     + repetition + C4 page + model score);
    *  3. EXACT DEDUP (D1's canonical-fingerprint rule, min-id keeper);
    *  4. PER-DOMAIN CAP (T40's deterministic md5-order selection) so
    *     no host dominates the release;
    *  5. TRAINING-EXPORT SHARDS (T44's token-balanced assignment over
    *     the seeded shuffle).
    *
    * ONE corpus scan computes everything per-doc — domain, all four
    * keep gates, fingerprint, selection key and token count are
    * projections over the same pass (the gate's broadcast blocklist
    * join adds no shuffle), so by the first exchange each row is a
    * few dozen bytes of ids/hashes/counts: the only shuffles are the
    * fp window, the per-domain cap window, the prefix-sum sort and
    * the output sort, and TEXT CROSSES NONE OF THEM. Emits the
    * released corpus as (doc_id, domain, fp, n_tokens, shard_id).
    */
  def pipelineRelease(docs: DataFrame, blocklist: DataFrame,
      stopWords: Seq[String], badWords: Seq[String],
      badUrlWords: Seq[String] = DomainOps.DefaultBadUrlWords,
      cap: Int = 25, tokensPerShard: Long = 32768L,
      seed: Long = 7L): DataFrame = {
    require(tokensPerShard > 0,
      s"tokensPerShard must be > 0: $tokensPerShard")
    graft.plans.GlobalOrder
      .withPrefixSum(
        releaseCapped(docs, blocklist, stopWords, badWords,
          badUrlWords, cap, seed),
        Seq(col("h"), col("doc_id")), "n_tokens", "cum")
      .select(col("doc_id"), col("domain"), col("fp"),
        col("n_tokens"),
        expr(s"(cum - n_tokens) div ${tokensPerShard}L")
          .as("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** Stages 1–4 of [[pipelineRelease]] as a LAZY frame (the shard
    * prefix-sum stage is eager, so the plan-shape audit pins this
    * frame): URL gate → signals gate → fp dedup → per-domain cap,
    * emitting (doc_id, domain, fp, n_tokens, h) — h the seeded
    * shuffle key the shard stage sorts on.
    */
  private[graft] def releaseCapped(docs: DataFrame,
      blocklist: DataFrame, stopWords: Seq[String],
      badWords: Seq[String], badUrlWords: Seq[String],
      cap: Int, seed: Long): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    import graft.functions.TextFunctions.{fingerprintMd5, tokenCount}
    // the signals half ends at a Fence: without it PushDownPredicates
    // substitutes the full kernel trees into every keep conjunct —
    // the filter then re-evaluates pagestats/model_stats per conjunct
    // AND the fused span's processNext() grows past janino's 64 KB
    // limit, dropping the whole stage to interpreted execution (the
    // r16 verdict's #1). The fence is a same-task iterator handoff —
    // no shuffle, no materialization; see [[graft.plans.Fence]].
    val fenced = graft.plans.Fence.stageBarrier(
      releaseSignals(docs, blocklist, stopWords, badWords, badUrlWords))
    val skinny = fenced
      .filter(col("keep_gopher") === 1 && col("keep_rep") === 1 &&
        col("keep_c4") === 1 && col("keep_model") === 1)
      .select(col("doc_id"), col("domain"),
        fingerprintMd5(col("text")).as("fp"),
        DomainOps.selectionKey(col("text")).as("sel_key"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
    val byDomain = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("sel_key"), col("doc_id"))
    skinny
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .filter(col("doc_id") === col("canonical_id"))
      .withColumn("domain_rank", row_number().over(byDomain))
      .filter(col("domain_rank") <= cap)
      .select(col("doc_id"), col("domain"), col("fp"),
        col("n_tokens"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))
          .as("h"))
  }

  /** The BELOW-FENCE half of [[releaseCapped]] — URL gate + the T38
    * signals projection, emitting exactly the columns the upper half
    * consumes (pruning cannot cross the fence): (doc_id, domain,
    * text, the four SQL-stateable keep gates). One corpus scan; the
    * kernels evaluate once per row inside the projection (subexpr
    * elimination), and the keep decision stays an int column until
    * the fence so no predicate substitution can duplicate them.
    * Exposed lazily for the plan audit (the fence hides this half
    * from the composed plan string).
    */
  private[graft] def releaseSignals(docs: DataFrame,
      blocklist: DataFrame, stopWords: Seq[String],
      badWords: Seq[String], badUrlWords: Seq[String]): DataFrame = {
    val gated = DomainOps.domainGate(docs, blocklist, badUrlWords)
      .filter(col("keep"))
      .select(col("doc_id"), col("text"), col("domain"))
    TextOps.qualitySignalsOf(gated, stopWords, badWords,
        carry = Seq("text", "domain"))
      .select(col("doc_id"), col("domain"), col("text"),
        col("keep_gopher"), col("keep_rep"), col("keep_c4"),
        col("keep_model"))
  }

  /** The registered `pipeline_release` query: the [[pipelineSignalsQuery]]
    * text fixture (c4 plant + the [[SignalsDupPage]] duplicate pages)
    * with the T39 planted URL column on top — every stage fires on
    * real rows: the URL gate drops blocked/keyword docs (including
    * one planted duplicate page, doc 157's casino query string), the
    * signals gate drops most of the corpus, the dedup stage drops the
    * surviving duplicate pages to the min id, cap=3 bites on the
    * skewed example.com/org domains, and tokensPerShard=1024 splits
    * the released set across several shards.
    */
  def pipelineReleaseQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    pipelineRelease(docs, blocklist,
      stopWords = Seq("the", "a"), badWords = Seq("badword"),
      cap = 3, tokensPerShard = 1024L)
  }

  /** P7 — THE WEB RELEASE: [[pipelineRelease]] starting from RAW
    * CRAWL PAGES, the full RefinedWeb/FineWeb shape with nothing
    * assumed: T45 HTML→text extraction → T39 URL gate → T38 signals
    * gate → D1 exact dedup → T40 per-domain cap → T44 export shards.
    * The extraction is a pure projection, so the plan is P6's with
    * one more codegen'd stage in front of the first exchange — raw
    * markup never crosses a shuffle (the page dies into extracted
    * text inside the scan's projection).
    *
    * The registered fixture wraps the P6 planted text via
    * [[TextOps.plantWebPage]] — extraction provably recovers it
    * EXACTLY (line-per-`<p>` structure), so this query is spec'd
    * EQUAL row-for-row to `pipeline_release`: the hash row then
    * proves the extraction chain composes losslessly through all
    * six stages in BOTH engines.
    */
  def pipelineWebQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    val extracted = TextOps.plantWebPage(docs)
      .select(col("doc_id"), col("url"),
        TextOps.htmlTextOf(col("html")).as("text"))
    pipelineRelease(extracted, blocklist,
      stopWords = Seq("the", "a"), badWords = Seq("badword"),
      cap = 3, tokensPerShard = 1024L)
  }

  /** The registered fixture (planted text + URL, default blocklist)
    * — shared by the query, the spec and the plan audit.
    */
  private[graft] def releaseFixture(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val page = SignalsDupPage.mkString("\n")
    val docs = DomainOps.plantUrl(
      TextOps.c4PlantedDocs(spark, sfDir)
        .select(col("doc_id"),
          when(col("doc_id") % 50 === 7, lit(page))
            .otherwise(col("text")).as("text")))
    (docs, DomainOps.DefaultBlockedDomains.toDF("domain"))
  }

  /** Stages 1–4 over the registered fixture — the plan-audit frame.
    */
  private[graft] def releaseCappedQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    releaseCapped(docs, blocklist, Seq("the", "a"), Seq("badword"),
      DomainOps.DefaultBadUrlWords, cap = 3, seed = 7L)
  }

  /** The below-fence half over the registered fixture — the audit
    * frame for what [[releaseCapped]] hides behind its Fence.
    */
  private[graft] def releaseSignalsQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    releaseSignals(docs, blocklist, Seq("the", "a"), Seq("badword"),
      DomainOps.DefaultBadUrlWords)
  }

  /** P7's below-fence half (extraction in front) — the audit frame
    * proving raw markup dies inside the scan-side projection.
    */
  private[graft] def releaseSignalsWebQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    val extracted = TextOps.plantWebPage(docs)
      .select(col("doc_id"), col("url"),
        TextOps.htmlTextOf(col("html")).as("text"))
    releaseSignals(extracted, blocklist, Seq("the", "a"),
      Seq("badword"), DomainOps.DefaultBadUrlWords)
  }

  /** P7's stages 0–4 (extraction in front) as a lazy frame — the
    * plan-audit twin of [[releaseCappedQuery]]: raw markup must die
    * into extracted text inside the scan-side projection, before
    * the first exchange.
    */
  private[graft] def releaseCappedWebQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    val extracted = TextOps.plantWebPage(docs)
      .select(col("doc_id"), col("url"),
        TextOps.htmlTextOf(col("html")).as("text"))
    releaseCapped(extracted, blocklist, Seq("the", "a"),
      Seq("badword"), DomainOps.DefaultBadUrlWords, cap = 3,
      seed = 7L)
  }

  /** P8 — RELEASE + DECONTAMINATED CARVE: the full "curate, split,
    * decontaminate" story as ONE composition — [[releaseCapped]]'s
    * four curation stages pick the released corpus, then the D20
    * holdout carve splits IT (not the raw crawl) into
    * eval / contaminated / train, so the published benchmark is
    * carved from exactly the corpus a model would train on (carving
    * before curation would let the gates silently eat eval docs and
    * skew the split).
    *
    * Scale shape: the release side is P6's (one corpus scan, text
    * crosses no exchange); the carve needs the released TEXT back,
    * so the released ids join the corpus once on the 8-byte id —
    * the substringScrubJoin convention, text crosses exactly ONE
    * shuffle — and D20's zero-shuffle classification map does the
    * rest. For corpus-scale holdouts swap the carve for the D20b
    * Bloom path (same split, bounded memory).
    */
  def pipelineReleaseCarve(docs: DataFrame, blocklist: DataFrame,
      stopWords: Seq[String], badWords: Seq[String],
      badUrlWords: Seq[String] = DomainOps.DefaultBadUrlWords,
      cap: Int = 25, seed: Long = 7L, carveSeed: String = "7",
      evalNum: Long = 1, evalDen: Long = 10, n: Int = 13,
      maxEvalGrams: Int = 10000000,
      share: Boolean = true): DataFrame = {
    // r21: holdoutCarve consumes its input TWICE (eval gram mine +
    // classification scan), and here that input is the WHOLE release
    // chain — URL gate, quality-signal kernels, fp + domain-cap
    // windows, the text re-join. Without the bounded truncation the
    // chain ran once per consumer; with it the released text
    // materializes once (released-corpus-sized, the screenMixPack
    // rationale, same `share` knob). Rows identical — truncate is a
    // checkpoint, not a transformation.
    val released = releasedText(docs, blocklist, stopWords, badWords,
      badUrlWords, cap, seed)
    val shared = if (share) graft.plans.Lineage.truncate(released)
      else released
    Dedup.holdoutCarve(shared, carveSeed, evalNum, evalDen, n,
      maxEvalGrams)
  }

  /** The released corpus WITH its text — stages 1–4's survivors
    * id-joined back onto the input frame (text crosses that one
    * exchange and nothing else).
    */
  private[graft] def releasedText(docs: DataFrame,
      blocklist: DataFrame, stopWords: Seq[String],
      badWords: Seq[String], badUrlWords: Seq[String],
      cap: Int, seed: Long): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .join(releaseCapped(docs, blocklist, stopWords, badWords,
          badUrlWords, cap, seed).select(col("doc_id")),
        Seq("doc_id"))

  /** The registered `pipeline_release_carve` query — [[pipelineReleaseCarve]]
    * over the P6 fixture, with the D20 hv-phrase FIXTURE PLANT
    * inserted between the stages (appended to released docs with
    * even ids, AFTER release selection so the plant cannot flip a
    * quality gate): random word-soup shares no natural 13-grams, so
    * the plant is what makes the contaminated class non-vacuous over
    * the ~dozens of released docs at sf0.01. The carve runs at
    * num/den = 1/3 (vs the standalone 1/10) so the small released
    * set still splits into all three roles deterministically
    * (spec-asserted at sf0.001 and sf0.01). The oracle states the
    * identical plant + fraction over the identical release chain.
    */
  def pipelineReleaseCarveQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val (docs, blocklist) = releaseFixture(spark, sfDir)
    val phrase = (0 until 13).map(i => s"hv$i").mkString(" ")
    // r21: truncate BELOW the plant projection — the carve's two
    // consumers (gram mine + classify) then share one run of the
    // release chain instead of re-deriving it each (the
    // pipelineReleaseCarve share rationale; the cheap plant concat
    // stays lazy above the checkpoint)
    val planted = graft.plans.Lineage.truncate(
        releasedText(docs, blocklist, Seq("the", "a"),
          Seq("badword"), DomainOps.DefaultBadUrlWords, cap = 3,
          seed = 7L))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" " + phrase)))
          .otherwise(col("text")).as("text"))
    Dedup.holdoutCarve(planted, seed = "7", evalNum = 1, evalDen = 3)
  }

  /** The registered `pipeline_scrub` query (the [[pipelineFullQuery]]
    * planting).
    */
  def pipelineScrubQuery(spark: SparkSession, sfDir: String): DataFrame =
    pipelineScrub(plantedDocs(spark, sfDir))

  /** The registered `pipeline_full` query: the synthetic docs are
    * single-line, so the query plants the SAME deterministic
    * multi-line structure as the `line_dedup` query (hdr/ref/ftr —
    * both sides of the line-df frontier exercised) and runs the full
    * recipe over it.
    */
  def pipelineFullQuery(spark: SparkSession, sfDir: String): DataFrame =
    pipelineFull(plantedDocs(spark, sfDir))

  /** The planted multi-line corpus shared by the query, the spec and
    * the probe (the [[CorpusOps.lineDedupQuery]] construction, with
    * `source` kept for blocking/mixing).
    */
  def plantedDocs(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).select(col("doc_id"), col("source"),
      concat(lit("hdr "), col("source"), lit("\n"),
        col("text"), lit("\n"),
        lit("ref "), expr("doc_id div 2").cast("string"), lit("\n"),
        lit("ftr "), col("lang")).as("text"))
}

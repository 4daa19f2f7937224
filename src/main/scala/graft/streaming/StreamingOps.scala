package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.CorpusOps

/** Structured Streaming operators (SURVEY §2.7) — the reference's
  * execution model (unbounded keyed streams with checkpointed state,
  * WordCount.java's keyBy→sum) re-expressed on Spark's engine.
  * Transform-only functions: callers bind any source (the emqx DSv2
  * source, MemoryStream in tests, Kafka in production) and any sink —
  * the operator is the plan, which is what scales.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** X1 — tumbling event-time window with watermark: late data beyond
    * 10 minutes is dropped, state is bounded (Spark evicts windows
    * below the watermark — the scale-critical property).
    */
  def windowedCounts(events: DataFrame,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** X1b — sliding window variant (1h length, 30m slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(org.apache.spark.sql.functions.window(
        col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))

  /** X2a — built-in session windows (gap-based). */
  def sessionWindowAgg(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** X2b — custom keyed state via flatMapGroupsWithState: the direct
    * analogue of Flink keyed state + timers (what the reference's
    * keyBy feeds). Sessions close after `gapMs` of event-time silence,
    * enforced with an event-time timeout so state is evicted by the
    * watermark, never unbounded.
    */
  def statefulSessionize(events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      var out = List.empty[SessionOut]
      var st = state.getOption.orNull
      if (state.hasTimedOut) {
        if (st != null)
          out ::= SessionOut(userId, new Timestamp(st.start),
            new Timestamp(st.end), st.n, st.total)
        state.remove()
        return out.iterator
      }
      // the X24 replay pin, applied here too: (getTime, getNanos,
      // event_id) — getTime alone truncates to ms, and two same-ms
      // events in replay-dependent order would accumulate st.total
      // in a different float order (addition is not associative)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
        .foreach { e =>
        val t = e.ts.getTime
        if (st == null) st = SessionState(t, t, 1, e.value)
        else if (t - st.end > gapMs) {
          out ::= SessionOut(userId, new Timestamp(st.start),
            new Timestamp(st.end), st.n, st.total)
          st = SessionState(t, t, 1, e.value)
        } else st = SessionState(st.start, math.max(st.end, t), st.n + 1,
          st.total + e.value)
      }
      state.update(st)
      state.setTimeoutTimestamp(st.end + gapMs)
      out.reverseIterator
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** X3 — stream–static enrichment join: the static side is planned
    * per micro-batch (broadcast when small — dims at 100 TB stream
    * scale are still dimension-sized).
    */
  def enrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** X5 — stream–stream join: purchases joined to the same user's
    * clicks within the preceding 10 minutes. Both sides are
    * watermarked so the join state is evicted once the time-range
    * condition can no longer match — bounded state, the only safe
    * shape for an unbounded×unbounded join.
    */
  def streamStreamJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"), col("value"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") &&
      col("c_ts") <= col("p_ts") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("p_ts"), col("c_ts"), col("value"))
  }

  /** X6 — streaming deduplication: drop duplicate event ids with a
    * watermark so the dedup state ages out instead of growing
    * unboundedly (the streaming twin of Dedup.dedupExact).
    */
  def streamingDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** C10 — the WordCount running aggregation (keyBy→sum) on a
    * payload-bearing stream.
    */
  def runningWordCount(payloads: DataFrame): DataFrame =
    payloads
      .select(explode(split(col("payload").cast("string"), "\\s+"))
        .as("word"))
      .groupBy(col("word")).count()

  case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)

  /** An arriving RAW page (markup, pre-extraction) — X28's input. */
  case class StreamHtml(doc_id: Long, ts: Timestamp, html: String)

  private[streaming] case class BucketState(sigs: Array[Array[Long]],
      latestMs: Long)

  /** X7 — streaming NEAR-duplicate suppression: the streaming twin of
    * MinHashDedup.minhashPairs, for ingest pipelines that must drop
    * near-copies as documents arrive instead of in a batch sweep.
    *
    * Shape: shingle_keys + minhash_keys run codegen'd in the
    * projection; each doc is keyed by a single LSH band (xxhash64 of
    * its first `bandRows` minhash rows — banding stays a COLUMN
    * computation, not a typed map: re-serializing through object
    * space strips the watermark metadata off `ts` and the event-time
    * timeout below would be rejected), and a keyed state per bucket
    * holds the signatures seen there. A doc whose signature agrees with a
    * stored one on ≥ `theta`·k rows is suppressed; survivors are
    * emitted and remembered. State is bounded two ways: `maxBucket`
    * caps signatures per bucket (oldest evicted first), and an
    * event-time timeout drops buckets idle past `idle` once the
    * watermark passes them — state never outlives the stream's time
    * horizon, the same eviction contract as X2/X6.
    *
    * One band means recall is bounded by P[band collision] — raise
    * `bandRows` for precision or lower it for recall; suppression
    * (unlike batch pair-reporting) only needs the FIRST collision, so
    * one band of 8 rows catches j ≥ 0.7 pairs with high probability
    * while keeping a single decision point per doc (multi-band
    * suppression would need cross-group consensus, a second stateful
    * stage).
    *
    * Docs too short to shingle have no MinHash identity and pass
    * through unsuppressed (the batch operator skips them for the same
    * reason — they would all collide on the sentinel signature).
    */
  def streamingNearDup(docs: Dataset[StreamDoc], k: Int = 64,
      bandRows: Int = 8, theta: Double = 0.7, maxBucket: Int = 128,
      watermark: String = "10 minutes",
      idle: String = "30 minutes"): Dataset[StreamDoc] = {
    import docs.sparkSession.implicits._
    import graft.functions.HashFunctions._
    require(bandRows > 0 && bandRows <= k, s"bandRows in [1,$k]")
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(idle))
    require(iv.months == 0, s"idle must be a fixed duration, got $idle")
    val idleMs = iv.days * 86400000L + iv.microseconds / 1000L
    val keyed = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("text"),
        shingle_keys(col("text"), lit(""), 3).as("keys"))
      .select(col("doc_id"), col("ts"), col("text"),
        minhash_keys(col("keys"), k).as("sig"),
        size(col("keys")).as("n_sh"))
      .withColumn("bucket",
        when(col("n_sh") === 0, lit(Long.MinValue)) // pass-through lane
          .otherwise(xxhash64(slice(col("sig"), 1, bandRows))))
      .select(col("bucket"), col("doc_id"), col("ts"), col("text"),
        col("sig"))
      .as[(Long, Long, Timestamp, String, Seq[Long])]

    def update(bucket: Long,
        rows: Iterator[(Long, Long, Timestamp, String, Seq[Long])],
        state: GroupState[BucketState]): Iterator[StreamDoc] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      // the X24 replay pin, full precision: (getTime, getNanos) is
      // Timestamp.compareTo's order — getTime alone truncates to ms
      // and would tie-break same-millisecond docs by id instead of
      // their true microsecond order
      val batch = rows.toSeq
        .sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      if (bucket == Long.MinValue)
        return batch.map(r => StreamDoc(r._2, r._3, r._4)).iterator
      var st = state.getOption.getOrElse(BucketState(Array.empty, 0L))
      val out = List.newBuilder[StreamDoc]
      batch.foreach { case (_, id, ts, text, sigSeq) =>
        val sig = sigSeq.toArray
        val dup = st.sigs.exists { s =>
          var agree = 0
          var i = 0
          while (i < k) { if (s(i) == sig(i)) agree += 1; i += 1 }
          agree.toDouble / k >= theta
        }
        if (!dup) {
          out += StreamDoc(id, ts, text)
          val kept =
            if (st.sigs.length >= maxBucket) st.sigs.drop(1) else st.sigs
          st = BucketState(kept :+ sig,
            math.max(st.latestMs, ts.getTime))
        } else st = st.copy(latestMs = math.max(st.latestMs, ts.getTime))
      }
      state.update(st)
      // event-time timeout must sit above the current watermark (a
      // bucket of only-late events would otherwise throw)
      state.setTimeoutTimestamp(math.max(st.latestMs + idleMs,
        state.getCurrentWatermarkMs() + 1))
      out.result().iterator
    }

    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Static-side index for [[contaminationScreen]]: one row per
    * (reference doc, band) with the band's bucket key and the doc's
    * sorted shingle keys for exact verification. Compute once and
    * persist (it's scanned every micro-batch); at 100 TB the
    * reference set (an eval benchmark) is dimension-sized next to the
    * stream.
    */
  def referenceIndex(ref: DataFrame, idCol: String = "ref_id",
      n: Int = 3, k: Int = 64, bands: Int = 8): DataFrame = {
    import ref.sparkSession.implicits._
    import graft.functions.HashFunctions._
    val rows = k / bands
    ref.select(col(idCol).as("ref_id"),
        shingle_keys(col("text"), lit(""), n).as("ref_keys"))
      .withColumn("sig", minhash_keys(col("ref_keys"), k))
      .filter(size(col("ref_keys")) > 0)
      .select(col("ref_id"), col("ref_keys"),
        posexplode(bandSigs(col("sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bsig"))
  }

  /** Per-band bucket keys as ONE column computation: xxhash64 over
    * each band's signature slice. Both join sides of the screen must
    * use this exact formula; it also must stay in column space on the
    * streaming side (a typed flatMap would strip the watermark — see
    * [[streamingNearDup]]).
    */
  private def bandSigs(sig: org.apache.spark.sql.Column, bands: Int,
      rows: Int): org.apache.spark.sql.Column =
    array((0 until bands).map(j =>
      xxhash64(slice(sig, j * rows + 1, rows))): _*)

  /** X8 — stream–static contamination screen: every arriving document
    * is checked against a static reference corpus (eval benchmarks,
    * blocklists) and emitted with the references it overlaps — the
    * decontamination step of a training-data ingest, run at ingest
    * time instead of as a batch sweep.
    *
    * Shape: the stream side computes the same banded MinHash as
    * [[referenceIndex]]; candidates come from an equi-join on
    * (band, bsig) — a stream-static join, stateless, planned per
    * micro-batch; the exact n-gram Jaccard (merge-count over the two
    * sorted key arrays) then verifies candidates ≥ `theta`. Band
    * collisions of the same (doc, ref) pair are deduplicated with
    * watermark-bounded state.
    *
    * Kernel-evaluation discipline (KernelEvalAuditSpec pins 1×/row):
    * there is deliberately NO `filter(size(keys) > 0)` on the stream
    * side — PushPredicateThroughNonJoin substitutes the alias when it
    * pushes such a filter below the keys projection, re-running
    * `shingle_keys` twice per row (measured 2×; the 8 per-band
    * `xxhash64(slice(sig))` consumers are safe — CollapseProject
    * refuses to duplicate the non-cheap `minhash_keys`). Docs too
    * short to shingle flow through with the empty-set sentinel
    * signature instead: it cannot reach the output because their
    * intersection with any indexed reference is 0 < `theta` — which
    * is why `theta` must be strictly positive.
    */
  def contaminationScreen(docs: Dataset[StreamDoc], refIndex: DataFrame,
      n: Int = 3, k: Int = 64, bands: Int = 8, theta: Double = 0.8,
      watermark: String = "10 minutes"): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.HashFunctions._
    require(theta > 0,
      s"theta must be > 0 (got $theta): zero-overlap (doc, ref) pairs are " +
        "never candidates, and unshingleable docs rely on theta > 0 to " +
        "stay out of the output")
    val rows = k / bands
    val banded = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        shingle_keys(col("text"), lit(""), n).as("keys"))
      .withColumn("sig", minhash_keys(col("keys"), k))
      .select(col("doc_id"), col("ts"), col("keys"),
        posexplode(bandSigs(col("sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bsig"))
    banded.join(refIndex, Seq("band", "bsig"))
      .withColumn("inter",
        sorted_intersect_count(col("keys"), col("ref_keys")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("keys")) + size(col("ref_keys")) - col("inter")))
      .filter(col("jaccard") >= theta)
      .select(col("doc_id"), col("ts"), col("ref_id"), col("jaccard"))
      .dropDuplicatesWithinWatermark("doc_id", "ref_id")
  }

  /** X10 — STREAM-SIDE LINE DEDUP: scrub each arriving document
    * against a PRECOMPUTED banned-line frontier (the batch
    * [[graft.operators.CorpusOps.lineDedup]] df pass over the
    * historical corpus — the stream–static split every production
    * line-dedup runs: the frontier is mined offline, arrivals are
    * scrubbed online). Stateless pure projection — no watermark, no
    * state store — so it composes into any `readStream` pipeline; the
    * rebuild and its per-doc kernel ARE the batch operator's
    * ([[graft.operators.CorpusOps.frontierRebuild]] with
    * `lineScrub`, event time carried), so stream output is asserted
    * identical to the batch operator on the same rows.
    */
  def streamingLineDedup(docs: Dataset[StreamDoc],
      bannedSorted: Array[Long]): DataFrame =
    CorpusOps.frontierRebuild(docs.toDF(), Seq("ts"), spread = false,
      bannedSorted)(CorpusOps.lineScrub)

  /** X21 — STREAMING PARAGRAPH DEDUP: X10 at blank-line granularity
    * (T34 streamed) — arrivals lose any paragraph on the
    * historically-mined banned frontier
    * ([[graft.operators.CorpusOps.bannedParagraphFrontier]]),
    * survivors rejoin with "\n\n"; rebuild and kernel
    * (`paragraphScrub`) shared with the batch operator. Stateless
    * pure map.
    */
  def streamingParagraphDedup(docs: Dataset[StreamDoc],
      bannedSorted: Array[Long]): DataFrame =
    CorpusOps.frontierRebuild(docs.toDF(), Seq("ts"), spread = false,
      bannedSorted)(CorpusOps.paragraphScrub)

  /** X11 — STREAM-SIDE DSIR SCORING: score each arriving document's
    * target-domain importance log-weight against PRECOMPUTED count
    * models (the batch [[graft.operators.Search.dsirModel]] export
    * over the historical corpus — the same stream–static split as
    * X10: models mined offline, arrivals scored online, so a
    * pipeline can route or down-weight crawl documents the moment
    * they arrive). Stateless pure projection — no watermark, no
    * state store; the broadcast model is sorted long arrays with
    * binary-search lookup.
    *
    * Score algebra mirrors the batch operator's exact op order
    * (per-feature dec12-scaled ln-ratio, integer sum, then
    * `s/1e12 + n·shift`), so on documents drawn from the modeled
    * corpus with a full-vocabulary frontier the stream score equals
    * [[graft.operators.Search.dsirWeights]] BIT-exactly
    * (StreamingSpec pins it). Features outside the frontier score as
    * unseen: ct=cq=0 → ln-ratio 0, the add-one smoothing contract.
    */
  def streamingDsirScore(docs: Dataset[StreamDoc],
      model: graft.operators.Search.DsirModel): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val shift = model.shift
    docs.map { d =>
      val m = bc.value
      val tk = graft.operators.CorpusOps.duckTokens(d.text)
      var s = 0L
      var n = 0L
      def add(g: String): Unit = {
        val i = java.util.Arrays.binarySearch(m.keys,
          graft.operators.CorpusOps.lineHash(g))
        val t = if (i >= 0) m.ct(i) else 0L
        val q = if (i >= 0) m.cq(i) else 0L
        s += graft.functions.CentroidKernels.dec12Scaled(
          math.log(t.toDouble + 1.0) - math.log(q.toDouble + 1.0))
        n += 1
      }
      var i = 0
      while (i < tk.length) { add(tk(i)); i += 1 }
      var j = 0
      while (j < tk.length - 1) { add(tk(j) + " " + tk(j + 1)); j += 1 }
      (d.doc_id, d.ts, n, s.toDouble / 1e12 + n.toDouble * shift)
    }.toDF("doc_id", "ts", "n_feats", "dsir_logw")
  }

  /** X12 — STREAM-SIDE SUBSTRING SCRUB: cut duplicated spans from
    * each arriving document against a PRECOMPUTED shared-window
    * frontier (the batch [[graft.operators.CorpusOps
    * .sharedWindowFrontier]] mined over the historical corpus — the
    * same stream–static split as X10's line dedup: frontier offline,
    * arrivals scrubbed online). Stateless pure projection — no
    * watermark, no state store; the rebuild and its per-doc kernel
    * ARE the batch operator's ([[graft.operators.CorpusOps
    * .frontierRebuild]] with `windowScrub`, i.e.
    * [[graft.operators.CorpusOps.scrubTokens]]), so stream output is
    * asserted identical to the batch operator under the same
    * frontier. Arrivals carry ids above the historical range, so
    * every frontier hit scrubs (owner < id always) — exactly the
    * deploy semantics: history owns its spans, arrivals lose copies.
    */
  def streamingSubstringScrub(docs: Dataset[StreamDoc],
      frontier: (Array[Long], Array[Long]), w: Int = 8): DataFrame =
    CorpusOps.frontierRebuild(docs.toDF(), Seq("ts"), spread = false,
      frontier)(CorpusOps.windowScrub(w))

  /** X20 — STREAMING SENTENCE-SPAN SCRUB: arrivals scrubbed at the
    * LITERAL C4 dedup unit (T35) against the shared-window frontier
    * mined ONCE from the historical corpus
    * ([[graft.operators.CorpusOps.sharedSentenceFrontier]]) — the
    * X12 substring-scrub recipe at sentence granularity, completing
    * the streamed C4 pair (X19 gates pages, X20 cuts spans already
    * owned by the resident corpus). Rebuild and kernel shared with
    * batch (`sentenceScrub`, i.e. `scrubSentences`); stateless pure
    * map, output asserted identical to the batch operator under one
    * frontier.
    */
  def streamingSentenceScrub(docs: Dataset[StreamDoc],
      frontier: (Array[Long], Array[Long]), n: Int = 3): DataFrame =
    CorpusOps.frontierRebuild(docs.toDF(), Seq("ts"), spread = false,
      frontier)(CorpusOps.sentenceScrub(n))

  /** X13 — STREAM-SIDE NB CLASSIFICATION: route each arriving
    * document to its argmax class under a PRECOMPUTED Naive Bayes
    * model (the batch [[graft.operators.Classify.nbModel]] export —
    * the same stream–static split as X11's DSIR scoring: the model
    * fit offline over the labeled corpus, arrivals classified
    * online). Stateless pure projection — no watermark, no state
    * store; the broadcast model is per-class sorted long arrays with
    * binary-search lookup.
    *
    * The decision is EXACT integer arithmetic end to end (per-match
    * dec12-scaled `ln(c+1)` terms, the model's precomputed dec12
    * scalars, integer argmax with the tie → lexicographically
    * largest class), mirroring the batch operator's op order — so
    * stream predictions AND scores equal
    * [[graft.operators.Classify.nbClassifyDocs]] bit-exactly on any
    * document at the default full frontier (StreamingSpec pins it;
    * unmatched tokens contribute 0 in both engines, so even
    * off-corpus text agrees). Class labels compare as Scala strings
    * — identical to Catalyst's UTF8String ordering for the ASCII
    * labels this corpus uses (both are code-point orders there).
    */
  def streamingNbClassify(docs: Dataset[StreamDoc],
      model: graft.operators.Classify.NbModel): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs.map { d =>
      val m = bc.value
      val tk = graft.operators.CorpusOps.duckTokens(d.text)
      val hs = tk.map(graft.operators.CorpusOps.lineHash)
      var bestScore = Long.MinValue
      var bestLang = ""
      var k = 0
      while (k < m.langs.length) {
        var suml = 0L
        var i = 0
        while (i < hs.length) {
          val j = java.util.Arrays.binarySearch(m.keys(k), hs(i))
          if (j >= 0) suml += graft.functions.CentroidKernels
            .dec12Scaled(math.log(m.cnt(k)(j).toDouble + 1.0))
          i += 1
        }
        val score = suml - hs.length.toLong * m.lnDenom(k) + m.lnPrior(k)
        if (score > bestScore ||
            (score == bestScore && m.langs(k).compareTo(bestLang) > 0)) {
          bestScore = score
          bestLang = m.langs(k)
        }
        k += 1
      }
      (d.doc_id, d.ts, bestLang, bestScore.toDouble / 1e12)
    }.toDF("doc_id", "ts", "pred_lang", "score")
  }

  /** X14 — STREAM-SIDE BIGRAM-LM PERPLEXITY: score each arriving
    * document under a PRECOMPUTED interpolated bigram LM (the batch
    * [[graft.operators.Search.lm2Model]] export — the stream–static
    * split again: model mined offline, arrivals scored online, the
    * CCNet-style perplexity gate applied the moment a crawl document
    * arrives). Stateless pure projection; the broadcast model is two
    * sorted long arrays with binary-search lookup.
    *
    * Score algebra mirrors the batch operator's exact op order
    * (per-position dec12-scaled interpolated term, integer sum, then
    * `exp(−s/10¹²/n)`), so on documents drawn from the modeled corpus
    * with a full frontier the stream ppl2 equals
    * [[graft.operators.Search.lm2Perplexity]] BIT-exactly
    * (StreamingSpec pins it). OUT-of-model lookups score as count 0 —
    * the add-one smoothing absorbs them, which generalizes the batch
    * inner-join semantics to novel text (novel transitions price at
    * the smoothing floor, raising ppl2 — exactly what a perplexity
    * gate wants from unseen junk). Docs of fewer than two tokens
    * have no transitions and emit nothing, the batch contract.
    */
  def streamingLm2Score(docs: Dataset[StreamDoc],
      model: graft.operators.Search.Lm2Model,
      lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda < 1.0,
      s"lambda must be in [0, 1): $lambda")
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs.flatMap { d =>
      val m = bc.value
      val tk = graft.operators.CorpusOps.duckTokens(d.text)
      if (tk.length < 2) None
      else {
        def look(keys: Array[Long], cnt: Array[Long], g: String): Long = {
          val i = java.util.Arrays.binarySearch(keys,
            graft.operators.CorpusOps.lineHash(g))
          if (i >= 0) cnt(i) else 0L
        }
        var s = 0L
        var j = 0
        while (j < tk.length - 1) {
          val c2 = look(m.bKeys, m.bCnt, tk(j) + " " + tk(j + 1))
          val c1p = look(m.uKeys, m.uCnt, tk(j))
          val c1w = look(m.uKeys, m.uCnt, tk(j + 1))
          s += graft.functions.CentroidKernels.dec12Scaled(math.log(
            lambda * (c2.toDouble + 1.0) /
              (c1p.toDouble + m.vocab.toDouble) +
            (1.0 - lambda) * (c1w.toDouble + 1.0) /
              (m.total.toDouble + m.vocab.toDouble)))
          j += 1
        }
        val n = tk.length - 1
        Some((d.doc_id, d.ts, n.toLong,
          math.exp(-(s.toDouble / 1e12) / n.toDouble)))
      }
    }.toDF("doc_id", "ts", "n_bigrams", "ppl2")
  }

  /** X19 — STREAMING C4 GATE: arriving documents pushed through the
    * published C4 cleaning suite (T33/T33b) the moment they arrive —
    * kept lines rebuilt, pages failing a page rule (lorem / brace /
    * badword / sentence minimum) emit NOTHING. The per-doc kernel IS
    * the batch `HashKernels.c4CleanPage` (one classifier definition,
    * batch and stream faces — the X12/X13 convention), so stream
    * output is asserted identical to [[graft.operators.TextOps.c4Apply]]
    * on the same documents. Stateless pure flatMap: no watermark, no
    * state, scan-bound at any ingest rate.
    */
  def streamingC4(docs: Dataset[StreamDoc], badWords: Seq[String] = Nil,
      minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    require(badWords.forall(w => w.nonEmpty && !w.exists(_.isWhitespace)),
      "badwords must be non-empty, whitespace-free tokens")
    import docs.sparkSession.implicits._
    val bw = badWords.mkString(" ")
    docs.flatMap { d =>
      val cleaned = graft.functions.HashKernels
        .c4CleanPage(d.text, bw, minLineWords, minSentences)
      if (cleaned == null) None
      else Some((d.doc_id, d.ts, cleaned,
        (cleaned.count(_ == '\n') + 1).toLong))
    }.toDF("doc_id", "ts", "clean_text", "n_kept_lines")
  }

  /** X26 — STREAMING BLOOM DECONTAMINATION (D18 at ingest time): each
    * arriving document is probed against the broadcast reference
    * Bloom bitmap the moment it lands — the memory-bounded form of
    * the X8 stream-static contamination screen for reference sets too
    * large to index (the bitmap is mBits/8 bytes regardless of
    * reference size; one-sided error means a contaminated page can
    * NEVER slip through unflagged). The per-doc probe IS the batch
    * [[graft.operators.Dedup.bloomHitCount]] (one definition, both
    * faces); stateless typed map, event time carried for downstream
    * watermarks.
    */
  def streamingBloomScreen(docs: Dataset[StreamDoc], bits: Array[Long],
      n: Int = 13, kHashes: Int = 4): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(bits)
    docs.map { d =>
      (d.doc_id, d.ts, graft.operators.Dedup
        .bloomHitCount(bc.value, d.text, n, kHashes))
    }.filter(_._3 > 0L)
      .toDF("doc_id", "ts", "n_overlap")
  }

  /** X30 — STREAMING HOLDOUT DECONTAMINATION: each arriving page is
    * screened against the RELEASED EVAL HOLDOUT's verbatim n-gram set
    * the moment it lands (D20 at ingest time — a page quoting the
    * benchmark must be quarantined before it enters the training
    * corpus, not at the next batch carve). Arrivals are all
    * train-side by construction (the holdout was carved from the
    * released snapshot), so the verdict is `contaminated`/`train`;
    * gram identity IS the batch [[graft.operators.Dedup.ngramFnvKeys]]
    * (one definition, both faces). Stateless typed map against the
    * broadcast sorted frontier; event time carried.
    */
  def streamingHoldoutScreen(docs: Dataset[StreamDoc],
      evalGramsSorted: Array[Long], n: Int = 13): DataFrame = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(evalGramsSorted)
    docs.map { d =>
      val ks = graft.operators.Dedup.ngramFnvKeys(d.text, n)
      var hits = 0L
      var i = 0
      while (i < ks.length) {
        if (java.util.Arrays.binarySearch(bc.value, ks(i)) >= 0)
          hits += 1
        i += 1
      }
      (d.doc_id, d.ts,
        if (hits > 0L) "contaminated" else "train", hits)
    }.toDF("doc_id", "ts", "role", "n_overlap")
  }

  /** A streamed page that arrives with its registered domain already
    * extracted (the X23 gate computes it; an ingest pipeline passes
    * it along rather than re-parsing the URL). PRECONDITION: the
    * domain must not contain '\n' — the X29 frontier's
    * [[graft.operators.CorpusOps.siteLineHash]] identity joins
    * domain and line on a newline, so a malformed multi-line domain
    * could alias another (domain, line) pair. A domain produced by
    * the X23 gate (registeredDomain over an RFC 3986 host capture)
    * satisfies this by construction; validate ingest-side if the
    * field arrives from anywhere else.
    */
  case class StreamSiteDoc(doc_id: Long, ts: Timestamp,
      domain: String, text: String)

  /** X29 — STREAMING PER-DOMAIN BOILERPLATE SCRUB: X10 with the
    * frontier keyed by (domain, line) — arrivals lose any line the
    * historical corpus marked as THEIR OWN SITE's chrome
    * ([[graft.operators.CorpusOps.bannedDomainLineFrontier]]); the
    * same line on a domain with no history survives. Rebuild and
    * kernel (`domainLineScrub`, hashing through
    * [[graft.operators.CorpusOps.siteLineHash]]) ARE the batch
    * operator's (one definition, both faces); stateless pure map,
    * event time carried.
    */
  def streamingDomainLineDedup(docs: Dataset[StreamSiteDoc],
      bannedSorted: Array[Long]): DataFrame =
    CorpusOps.frontierRebuild(docs.toDF(), Seq("ts", "domain"),
      spread = false, bannedSorted)(CorpusOps.domainLineScrub)

  /** X25 — STREAMING QUALITY SIGNALS: every arriving document gets
    * its full T38 signals row the moment it lands — all five gate
    * decisions (Gopher doc rules, Gopher repetition, C4 page rules,
    * model score, compressibility) plus `keep_all`, so an ingest
    * pipeline can route or drop on any gate combination online while
    * the SAME row lands in the offline signals table for threshold
    * tuning. The projection IS the batch
    * [[graft.operators.TextOps.qualitySignalsOf]] (one definition,
    * both faces — the X19/X23 convention): stateless codegen'd
    * kernels in column space, no state, and the carried event time
    * means a caller's watermark survives for downstream windowing.
    */
  def streamingQualitySignals(docs: Dataset[StreamDoc],
      stopWords: Seq[String] = graft.operators.TextOps.GopherStopList,
      badWords: Seq[String] = Nil,
      minLineWords: Int = 5, minSentences: Int = 3,
      loNum: Int = 1, loDen: Int = 4): DataFrame =
    graft.operators.TextOps.qualitySignalsOf(docs.toDF(), stopWords,
      badWords, minLineWords, minSentences, loNum, loDen,
      carry = Seq("ts"))

  /** X28 — STREAMING HTML→TEXT EXTRACTION: the T45 stage-zero run
    * the moment a page lands — extraction precedes EVERY other gate
    * (URL aside), so an ingest pipeline chains this in front of the
    * X19/X25 gates exactly as P6 assumes extracted text in batch.
    * The kernel IS the batch
    * [[graft.operators.TextOps.htmlTextOf]] Column (one definition,
    * both faces — the X19/X23 convention): a chain of built-in
    * regexp_replace/replace projections, stateless, column space, no
    * watermark interaction; the carried event time survives for
    * downstream windowing. Input frames carry `html` instead of
    * `text`; the output restores the `text` name the downstream
    * faces expect.
    */
  def streamingHtmlExtract(pages: Dataset[StreamHtml]): DataFrame =
    pages.toDF().select(col("doc_id"), col("ts"),
      graft.operators.TextOps.htmlTextOf(col("html")).as("text"))

  /** X15 — STREAMING CHUNKING: split each arriving document into
    * token windows with overlap the moment it arrives (the pre-embed
    * / pre-train chunking of T28, applied online — an ingestion
    * pipeline chunks before it embeds or packs). Stateless pure
    * projection with per-row fan-out; the per-doc kernel IS the batch
    * [[graft.operators.CorpusOps.chunkWindows]], so stream chunks are
    * asserted identical to the batch operator on the same documents.
    */
  def streamingChunk(docs: Dataset[StreamDoc], chunkTokens: Int = 2048,
      overlap: Int = 256): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap")
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      graft.operators.CorpusOps.chunkWindows(
          graft.operators.CorpusOps.duckTokens(d.text), chunkTokens,
          overlap)
        .map { case (cid, txt, n) => (d.doc_id, d.ts, cid, txt, n) }
    }.toDF("doc_id", "ts", "chunk_id", "text", "n_tokens")
  }

  /** X16 — STREAMING INCREMENTAL DEDUP SCREEN: every arriving
    * document is screened against the PERSISTED corpus index of
    * [[graft.operators.IncrementalDedup]] — the streaming face of
    * `dedup_incremental`, completing the batch-artifact / stream-
    * score split for the dedup family (X10 line frontier, X11 DSIR
    * model, X13/X14 classifier and LM exports; here the artifact is
    * the distributed index table, stream-static joined, never
    * collected).
    *
    * Two verdict kinds in one output, mirroring the batch pair:
    * `match_kind` = "exact" rows (fingerprint hit, ref = min indexed
    * id per fp, est = 1.0) and "near" rows (band collision with
    * signature agreement ≥ `minEst`, est = agreement / k). Codes
    * only — the index carries no text, so the screen joins 16-byte
    * band keys + k-long signatures. Column space end to end (the X8
    * lesson: a typed flatMap would strip the watermark); the
    * agreement runs through the codegen'd `positional_agree_count`
    * kernel, once per candidate. Same-pair multi-band collisions are
    * deduplicated with watermark-bounded state.
    */
  def streamingIncrementalScreen(docs: Dataset[StreamDoc],
      index: DataFrame, k: Int = 32, bands: Int = 8,
      minEst: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.HashFunctions._
    require(minEst > 0,
      s"minEst must be > 0 (got $minEst): unshingleable docs carry the " +
        "sentinel signature and rely on minEst > 0 plus the n_sh > 0 " +
        "index filter to stay out of the near output")
    val rows = k / bands
    require(rows * bands == k, s"bands ($bands) must divide k ($k)")

    val exactRefs = index.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("ref_id"))
    val indexBands = index.filter(col("n_sh") > 0)
      .select(col("doc_id").as("ref_id"), col("sig").as("ref_sig"),
        posexplode(bandSigs(col("sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bsig"))

    val scored = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        canonical_md5(col("text")).as("fp"),
        minhash_keys(shingle_keys(col("text"), lit(""), 3), k).as("sig"))

    val exact = scored.join(exactRefs, Seq("fp"))
      .select(col("doc_id"), col("ts"), lit("exact").as("match_kind"),
        col("ref_id"), lit(1.0).as("est_jaccard"))

    val near = scored
      .select(col("doc_id"), col("ts"), col("sig"),
        posexplode(bandSigs(col("sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bsig"))
      .join(indexBands, Seq("band", "bsig"))
      .withColumn("est_jaccard",
        positional_agree_count(col("sig"), col("ref_sig"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= minEst)
      .select(col("doc_id"), col("ts"), lit("near").as("match_kind"),
        col("ref_id"), col("est_jaccard"))

    exact.unionByName(near)
      .dropDuplicatesWithinWatermark("doc_id", "match_kind", "ref_id")
  }

  /** X22 — STREAMING VERIFIED INCREMENTAL SCREEN: X16's est-only
    * near verdicts completed with the D17 exact tail, online —
    * candidates flagged in the WIDER estimate band (threshold − 0.2,
    * the verifyNearPairs convention) fetch the kept corpus's TEXT
    * stream-statically by ref_id, and the exact sorted-key jaccard
    * decides the keep/drop at the threshold. Per micro-batch the
    * text join is bounded by FLAG volume (candidates deduplicate
    * under the watermark BEFORE the corpus join, so a multi-band
    * collision costs one verify); the corpus side contributes a
    * shingle-key projection only — its text never shuffles past the
    * kernel. Column space end to end (the X8/X16 watermark lesson);
    * agreement and intersection run through the codegen'd
    * `positional_agree_count` / `sorted_intersect_count` kernels.
    *
    * StreamingSpec pins the streamed verdicts equal to the batch
    * [[graft.operators.IncrementalDedup.verifyNearPairs]] under one
    * index + corpus snapshot (band keys differ syntactically from
    * the batch fold-hash but collide exactly when the same signature
    * slices are equal, so the candidate sets agree).
    */
  def streamingIncrementalScreenVerified(docs: Dataset[StreamDoc],
      index: DataFrame, corpus: DataFrame, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.HashFunctions._
    val rows = k / bands
    require(rows * bands == k, s"bands ($bands) must divide k ($k)")
    require(threshold > 0.2,
      s"threshold must exceed the 0.2 candidate-band margin: $threshold")

    val indexBands = index.filter(col("n_sh") > 0)
      .select(col("doc_id").as("ref_id"), col("sig").as("ref_sig"),
        posexplode(bandSigs(col("sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bsig"))

    val scored = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        shingle_keys(col("text"), lit(""), 3).as("sh_a"))
      .select(col("doc_id"), col("ts"), col("sh_a"),
        minhash_keys(col("sh_a"), k).as("sig"))

    val cand = scored
      .select(col("doc_id"), col("ts"), col("sh_a"), col("sig"),
        posexplode(bandSigs(col("sig"), bands, rows)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bsig"))
      .join(indexBands, Seq("band", "bsig"))
      .withColumn("est_jaccard",
        positional_agree_count(col("sig"), col("ref_sig"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold - 0.2)
      // one verify per (arrival, ref) pair regardless of how many
      // bands collided — dedupe BEFORE the text join
      .dropDuplicatesWithinWatermark("doc_id", "ref_id")
      .select(col("doc_id"), col("ts"), col("sh_a"), col("ref_id"),
        col("est_jaccard"))

    val refSets = corpus.select(col("doc_id").as("ref_id"),
      shingle_keys(col("text"), lit(""), 3).as("sh_b"))
    val inter = sorted_intersect_count(col("sh_a"), col("sh_b"))
    cand.join(refSets, Seq("ref_id"))
      .withColumn("jaccard", inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ts"), col("ref_id"),
        col("est_jaccard"), col("jaccard"))
  }

  case class StreamVec(query_id: Long, ts: Timestamp, emb: Array[Float])

  /** X17 — STREAMING ANN SCREEN against the persisted IVF index
    * (S12): each arriving vector probes its `nProbe` nearest
    * centroids (the BOUNDED centroid export rides in the closure —
    * the nbModel convention; the corpus-sized cell lists
    * `(vec_id, cell_id, emb_bin)` stay a distributed table,
    * stream-static joined) and emits every indexed vector in the
    * probed cells with cosine ≥ `minCosine`. Threshold search, not
    * top-k: per-query ranking is [[streamingAnnTopK]]; the retrieval
    * contract at ingest is "give me everything similar enough", and a
    * consumer ranks. Stateless end to end — the probe fan-out is a
    * typed flatMap (no watermark needed, nothing stateful downstream)
    * that packs the query vector ONCE per arrival, and candidate
    * scoring is the fused blob×blob kernel after the cell join, so
    * the join ships 4·dim-byte blobs. Probe selection uses the same
    * (cosine DESC, cell_id ASC) order as
    * [[graft.operators.Similarity.annIvfSearch]].
    */
  def streamingAnnScreen(queries: Dataset[StreamVec],
      centroidsExport: Array[(Long, Array[Double])], assigned: DataFrame,
      nProbe: Int = 2, minCosine: Double = 0.8): DataFrame = {
    require(centroidsExport.nonEmpty, "empty centroid export")
    require(nProbe >= 1 && nProbe <= centroidsExport.length,
      s"nProbe $nProbe out of range for ${centroidsExport.length} cells")
    import queries.sparkSession.implicits._
    import graft.functions.VectorFunctions._
    val banded = queries.flatMap { q =>
      // cosine vs each exported centroid, fixed accumulation order
      val scored = centroidsExport.map { case (cellId, c) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        val n = math.min(q.emb.length, c.length)
        while (i < n) {
          val a = q.emb(i).toDouble; val b = c(i)
          dot += a * b; na += a * a; nb += b * b
          i += 1
        }
        val cos =
          if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        (cellId, cos)
      }
      val qBin = graft.functions.PackedVectorKernels.packArray(q.emb)
      scored.sortBy { case (cellId, cos) => (-cos, cellId) }
        .take(nProbe)
        .map { case (cellId, _) => (q.query_id, q.ts, qBin, cellId) }
    }.toDF("query_id", "ts", "q_bin", "cell_id")
    banded.join(assigned, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosinePacked(col("emb_bin"), col("q_bin")))
      .filter(col("cosine") >= minCosine)
      .select(col("query_id"), col("ts"), col("vec_id"), col("cosine"))
  }

  case class AnnTopKState(tsMs: Long, items: List[(Long, Double)])
  case class AnnTopKOut(query_id: Long, ts: Timestamp,
      neighbor_id: Long, cosine: Double, rnk: Int)

  /** X18 — STREAMING PER-QUERY TOP-K ANN: the serving shape X17
    * leaves to its consumer, completed — each arriving query vector
    * gets its `k` nearest indexed vectors, ranked, once its event
    * time is final. Built ON the X17 candidate stream (same probe
    * selection, same cosine kernel, threshold disabled so ranking
    * sees every candidate in the probed cells) with a
    * `flatMapGroupsWithState` bounded heap per query: state is AT
    * MOST k (neighbor, cosine) pairs + one timestamp per in-flight
    * query — candidates stream through, only survivors of the
    * running top-k cut are retained — and an EVENT-TIME timeout
    * (watermark passes the query's ts) both emits the final ranking
    * and evicts the state, so memory is bounded by in-flight queries
    * × k, never by corpus or stream length. The watermark is
    * re-stated on the candidate stream because X17's probe fan-out
    * is a typed flatMap (the X8 lesson: typed ops strip the
    * event-time tag; the ts VALUES pass through untouched).
    *
    * Ranking order is (cosine DESC, vec_id ASC) — identical to
    * [[graft.operators.Similarity.annIvfSearch]]; StreamingSpec
    * pins the streamed top-k bit-equal to the batch search under one
    * persisted index.
    */
  def streamingAnnTopK(queries: Dataset[StreamVec],
      centroidsExport: Array[(Long, Array[Double])], assigned: DataFrame,
      nProbe: Int = 2, k: Int = 5,
      watermark: String = "10 minutes"): Dataset[AnnTopKOut] = {
    require(k >= 1, s"k must be >= 1: $k")
    import queries.sparkSession.implicits._
    val cand = streamingAnnScreen(queries, centroidsExport, assigned,
        nProbe, minCosine = -2.0)
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp, Long, Double)]

    def update(qid: Long, rows: Iterator[(Long, Timestamp, Long, Double)],
        state: GroupState[AnnTopKState]): Iterator[AnnTopKOut] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        st.items.sortBy { case (vid, cos) => (-cos, vid) }
          .iterator.zipWithIndex
          .map { case ((vid, cos), i) =>
            AnnTopKOut(qid, new Timestamp(st.tsMs), vid, cos, i + 1) }
      } else {
        val st = state.getOption.getOrElse(AnnTopKState(Long.MinValue, Nil))
        var tsMs = st.tsMs
        var items = st.items
        rows.foreach { case (_, t, vid, cos) =>
          if (t.getTime > tsMs) tsMs = t.getTime
          items = (vid, cos) :: items
        }
        val bounded =
          items.sortBy { case (vid, cos) => (-cos, vid) }.take(k)
        state.update(AnnTopKState(tsMs, bounded))
        state.setTimeoutTimestamp(
          math.max(tsMs + 1, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      }
    }

    cand.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class StreamUrlDoc(doc_id: Long, ts: Timestamp, url: String)

  /** X23 — STREAMING URL GATE: arriving documents screened by their
    * URL the moment they arrive — the T39 first-stage filter at
    * ingest time, BEFORE any text processing spends a cycle on a
    * blocklisted page. The gate IS the batch
    * [[graft.operators.DomainOps.domainGate]] applied to the
    * streaming frame (one definition, batch and stream faces — the
    * X12/X19 convention): stateless codegen'd projections plus ONE
    * stream-static broadcast join against the domain blocklist, so
    * it stays column-space (no typed map — the watermark, if the
    * caller set one, survives) and scan-bound at any ingest rate.
    * StreamingSpec pins stream output equal to the batch gate on the
    * same rows under the same blocklist.
    */
  def streamingDomainGate(docs: Dataset[StreamUrlDoc],
      blocklist: DataFrame,
      badUrlWords: Seq[String] =
        graft.operators.DomainOps.DefaultBadUrlWords): DataFrame =
    graft.operators.DomainOps.domainGate(docs.toDF(), blocklist,
        badUrlWords)
      .select(col("doc_id"), col("ts"), col("url"), col("host"),
        col("domain"), col("blocked_domain"), col("blocked_word"),
        col("keep"))

  case class DomainCapOut(doc_id: Long, ts: Timestamp, domain: String,
      domain_rank: Long, keep: Boolean)

  /** X24 — STREAMING PER-DOMAIN CAP: the online admission policy of
    * T40 — each arriving document is admitted while its registered
    * domain has quota and refused after, a first-seen-wins rank (a
    * stream cannot sort by the batch md5 key without holding the
    * whole corpus; batch re-ranks retrospectively, ingest admits
    * greedily — both faces cap every domain at exactly `cap` kept
    * docs). State per domain is ONE long (the admitted count), so
    * total state is 8 bytes × |domains| — bounded by the domain
    * vocabulary like the static blocklist itself, never by stream
    * length; NoTimeout is deliberate (a domain's quota must not
    * reset when it goes idle). Verdicts emit immediately
    * (append-mode flatMapGroupsWithState, no watermark dependency).
    * ACROSS micro-batches admission is first-seen-wins by arrival;
    * WITHIN one micro-batch each group's rows are pinned to
    * (ts, doc_id) order before ranking — the group iterator's own
    * order depends on how the batch was partitioned, so an
    * unpinned rank could admit a different doc at the quota
    * boundary on replay (StreamingSpec feeds one batch shuffled two
    * ways and asserts identical admissions).
    */
  def streamingDomainCap(docs: Dataset[StreamUrlDoc],
      cap: Int = 25): Dataset[DomainCapOut] = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    import docs.sparkSession.implicits._
    import graft.operators.DomainOps

    def update(domain: String, rows: Iterator[(Long, Timestamp, String)],
        state: GroupState[Long]): Iterator[DomainCapOut] = {
      var seen = state.getOption.getOrElse(0L)
      // toVector + strict map: fully drained BEFORE state.update
      // sees the final count. (getTime, getNanos) = full-precision
      // Timestamp order — getTime alone truncates to ms, so two docs
      // in one millisecond would rank by id, not microsecond order
      val out = rows.toVector
        .sortBy { case (id, ts, _) => (ts.getTime, ts.getNanos, id) }
        .map { case (id, ts, _) =>
          seen += 1
          DomainCapOut(id, ts, domain, seen, seen <= cap)
        }
      state.update(seen)
      out.iterator
    }

    docs.toDF()
      .withColumn("domain",
        DomainOps.registeredDomain(DomainOps.urlHost(col("url"))))
      .select(col("doc_id"), col("ts"), col("domain"))
      .as[(Long, Timestamp, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  case class StreamIngestDoc(doc_id: Long, ts: Timestamp, url: String,
      text: String)
  case class IngestAdmitOut(doc_id: Long, ts: Timestamp,
      domain: String, fp: String, domain_rank: Long, keep: Boolean)

  /** X27 — STREAMING INGEST ADMISSION: the composed ingest-time face
    * of the P6 release pipeline — every published curation family
    * applied to each arriving page the moment it lands:
    *
    *  1. URL gate (X23's stream-static broadcast — the batch
    *     [[graft.operators.DomainOps.domainGate]], one definition);
    *  2. quality-signals gate (X25's stateless kernels — the batch
    *     [[graft.operators.TextOps.qualitySignalsOf]], keep = the
    *     four-gate conjunction P6 applies);
    *  3. RELEASED-CORPUS exact-dup screen: the arrival's canonical
    *     fingerprint probed against the D19 Bloom bitmap (the batch
    *     [[graft.operators.Dedup.fpBloomHitFp]] — one definition;
    *     one-sided error means a page already in the released corpus
    *     is NEVER admitted, and the bitmap is mBits/8 bytes no
    *     matter how many documents the release holds);
    *  4. per-domain cap admission (X24's one-long-per-domain
    *     `flatMapGroupsWithState` — the ONLY stateful operator in
    *     the composed query, so total state is 8 bytes × |domains|).
    *
    * Batch/stream split: the stream admits first-seen-wins and
    * screens against YESTERDAY'S release; the batch release (P6)
    * re-ranks retrospectively under the deterministic selection key
    * and T42's rebalance reconciles the two — the same contract the
    * dedup family states for D14/P3. Within one micro-batch the
    * admission order is pinned to (ts, doc_id) — the X24 replay pin. Verdicts emit immediately for
    * every page that survives stages 1–3 (admitted or refused, with
    * its arrival rank); pages killed by a gate emit nothing — they
    * are not admission decisions.
    */
  def streamingIngestAdmission(docs: Dataset[StreamIngestDoc],
      blocklist: DataFrame, releasedBits: Array[Long],
      stopWords: Seq[String], badWords: Seq[String],
      badUrlWords: Seq[String] =
        graft.operators.DomainOps.DefaultBadUrlWords,
      cap: Int = 25, kHashes: Int = 4): Dataset[IngestAdmitOut] = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    import docs.sparkSession.implicits._
    import graft.operators.{Dedup, DomainOps, TextOps}
    val gated = DomainOps.domainGate(docs.toDF(), blocklist,
        badUrlWords)
      .filter(col("keep"))
      .select(col("doc_id"), col("ts"), col("text"), col("domain"))
    // the quality gate is computed ONCE in the projection and applied
    // INSIDE the typed stage below — never as a Column filter. A
    // `.filter` on the four keep columns gets pushed below the signals
    // projection with the kernel expressions alias-substituted per
    // reference (the r9/r17 trap): the micro-batch plan re-ran
    // PageStats 22× and GopherRepetition 18× PER ROW (caught by the
    // r19 streaming plan lint, PlanAuditSpec). Batch recipes fence the
    // projection (Fence.stageBarrier, an eager materialization) — a
    // streaming plan cannot fence, so the deserialization barrier of
    // the typed flatMap is the streaming-native equivalent: no Filter
    // node exists for the optimizer to push.
    val kept = TextOps.qualitySignalsOf(gated, stopWords, badWords,
        carry = Seq("ts", "text", "domain"))
      .select(col("doc_id"), col("ts"), col("text"), col("domain"),
        (col("keep_gopher") === 1 && col("keep_rep") === 1 &&
          col("keep_c4") === 1 && col("keep_model") === 1).as("pass"))
    val bc = docs.sparkSession.sparkContext.broadcast(releasedBits)
    val fresh = kept.as[(Long, Timestamp, String, String, Boolean)]
      .flatMap { case (id, ts, text, domain, pass) =>
        if (!pass) None
        else {
          val fp = Dedup.canonicalFpOf(text)
          if (Dedup.fpBloomHitFp(bc.value, fp, kHashes)) None
          else Some((id, ts, domain, fp))
        }
      }

    def update(domain: String,
        rows: Iterator[(Long, Timestamp, String, String)],
        state: GroupState[Long]): Iterator[IngestAdmitOut] = {
      var seen = state.getOption.getOrElse(0L)
      // the X24 replay pin: full-precision (ts, doc_id) order within
      // the batch ((getTime, getNanos) = Timestamp.compareTo), so a
      // re-partitioned replay admits the same doc at the quota
      // boundary; toVector + strict map drains BEFORE state.update
      val out = rows.toVector
        .sortBy { case (id, ts, _, _) =>
          (ts.getTime, ts.getNanos, id) }
        .map { case (id, ts, _, fp) =>
          seen += 1
          IngestAdmitOut(id, ts, domain, fp, seen, seen <= cap)
        }
      state.update(seen)
      out.iterator
    }

    fresh.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }
}

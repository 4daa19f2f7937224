package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** X1–X3: watermark windows, custom keyed state, stream-static join —
  * each driven through a real streaming query over MemoryStream.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Int) = new Timestamp(3600_000L * 10 + min * 60_000L)

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
      name: String, mode: String = "append") = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q
  }

  test("streaming near-dup suppresses arriving near-copies, keeps distinct docs") {
    import graft.streaming.StreamingOps.StreamDoc
    // 60 distinct tokens; the near-copy edits ONE word (jaccard ≈
    // 0.97, signature agreement 0.95) — deterministic band-0
    // collision under the fixed minhash seeds. Single-band
    // suppression is for near-EXACT copies; a j=0.5 mutation would
    // (correctly) not collide.
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearCopy = base.replaceFirst("word1 ", "changed ")
    val distinct = (1 to 60).map(i => s"other$i").mkString(" ")
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingNearDup(in.toDS(), theta = 0.7)
      .writeStream.format("memory").queryName("near_dup_out")
      .outputMode("append").start()
    try {
      in.addData(StreamDoc(1, ts(0), base))
      q.processAllAvailable()
      in.addData(StreamDoc(2, ts(1), nearCopy), // suppressed vs doc 1
        StreamDoc(3, ts(2), distinct), // survives
        StreamDoc(4, ts(3), "tiny")) // too short to shingle: pass-through
      q.processAllAvailable()
      in.addData(StreamDoc(5, ts(4), base)) // exact copy, suppressed
      q.processAllAvailable()
      val got = spark.table("near_dup_out").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(got == Set(1L, 3L, 4L), s"got $got")
    } finally q.stop()
  }

  test("X21 streaming paragraph dedup scrubs arrivals like the batch operator") {
    import graft.streaming.StreamingOps.StreamDoc
    import spark.implicits._
    // historical corpus: the two-line block "nav\nhome" recurs in 3
    // docs (banned at minDf=3); "pair" block in 2 (kept)
    val hist = Seq(
      (0L, "nav\nhome\n\nhist zero\n\npair"),
      (1L, "nav\nhome\n\nhist one\n\npair"),
      (2L, "nav\nhome\n\nhist two")).toDF("doc_id", "text")
    val banned = graft.operators.CorpusOps.bannedParagraphFrontier(hist)
    val arrivals = Seq(
      StreamDoc(10L, ts(0), "nav\nhome\n\nfresh ten"),
      StreamDoc(11L, ts(1), "pair\n\nfresh\neleven\n\nnav\nhome"),
      StreamDoc(12L, ts(2), "nav\nhome")) // fully scrubbed, stays
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingParagraphDedup(in.toDS(), banned)
      .writeStream.format("memory").queryName("par_dedup_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("par_dedup_out").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got(10L) == (("fresh ten", 1L, 1L)))
      // the kept paragraph retains its EMBEDDED single newline
      assert(got(11L) == (("pair\n\nfresh\neleven", 2L, 1L)))
      assert(got(12L) == (("", 0L, 1L)))
      // contract: identical to the batch operator under one frontier
      arrivals.foreach { d =>
        val ps = graft.operators.CorpusOps.splitParagraphs(d.text)
        val expKept = ps.filterNot(p => banned.contains(
          graft.operators.CorpusOps.lineHash(p)))
        assert(got(d.doc_id)._1 == expKept.mkString("\n\n"))
      }
    } finally q.stop()
  }

  test("streaming line dedup scrubs arrivals identically to the batch operator") {
    import graft.streaming.StreamingOps.StreamDoc
    import spark.implicits._
    // historical corpus: "boiler" sits in 3 docs (banned at minDf=3),
    // "pair" in 2 (kept); the frontier is mined batch-side once
    val hist = Seq(
      (0L, "boiler\nhist zero\npair"),
      (1L, "boiler\nhist one\npair"),
      (2L, "boiler\nhist two")).toDF("doc_id", "text")
    val banned = graft.operators.CorpusOps.bannedLineFrontier(hist)
    val arrivals = Seq(
      StreamDoc(10L, ts(0), "boiler\nfresh ten"),
      StreamDoc(11L, ts(1), "pair\nfresh eleven\nboiler"),
      StreamDoc(12L, ts(2), "boiler")) // fully scrubbed, stays
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingLineDedup(in.toDS(), banned)
      .writeStream.format("memory").queryName("line_dedup_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("line_dedup_out").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
      // batch operator over the same rows (frontier from hist ∪ the
      // arrival's own lines would differ — the stream contract is
      // scrub-vs-historical-frontier, so compare against a batch
      // rebuild with the SAME frontier): expected values by hand
      assert(got(10L) == (("fresh ten", 1L, 1L)))
      assert(got(11L) == (("pair\nfresh eleven", 2L, 1L)))
      assert(got(12L) == (("", 0L, 1L)))
      assert(got.size == 3)
    } finally q.stop()
  }

  test("streaming substring scrub equals the batch kernel under one frontier") {
    import graft.streaming.StreamingOps.StreamDoc
    import spark.implicits._
    // historical corpus: docs 0 and 1 share an 8-token run (owner 0);
    // the frontier holds exactly its windows
    val hist = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x a b c d e f g h y")).toDF("doc_id", "text")
    val frontier = graft.operators.CorpusOps.sharedWindowFrontier(hist)
    assert(frontier._1.nonEmpty)
    val arrivals = Seq(
      StreamDoc(10L, ts(0), "k a b c d e f g h m"),   // span scrubbed
      StreamDoc(11L, ts(1), "a b c d e f g h i j"),   // fully covered? (only shared windows)
      StreamDoc(12L, ts(2), "fresh words only here"))
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingSubstringScrub(in.toDS(), frontier)
      .writeStream.format("memory").queryName("sub_scrub_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("sub_scrub_out").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
      // the batch kernel over the same rows with the SAME frontier is
      // the contract — compute it directly
      arrivals.foreach { d =>
        val expect = graft.operators.CorpusOps.scrubTokens(
          graft.operators.CorpusOps.duckTokens(d.text), d.doc_id,
          frontier._1, frontier._2, 8)
        assert(got(d.doc_id) == expect, s"doc ${d.doc_id}")
      }
      // and the values are the hand-expected ones: the shared span
      // "a b c d e f g h" scrubs from every arrival containing it
      assert(got(10L) == (("k m", 2L, 8L)))
      // doc 11 contains the shared windows PLUS hist-0's tail windows
      // ("b c d e f g h i", "c d e f g h i j") which are df=1 in hist
      // → only the 8 tokens under the SHARED window are cut
      assert(got(11L) == (("i j", 2L, 8L)))
      assert(got(12L) == (("fresh words only here", 4L, 0L)))
    } finally q.stop()
  }

  test("X20 streaming sentence scrub equals the batch kernel under one frontier") {
    import graft.streaming.StreamingOps.StreamDoc
    import spark.implicits._
    // historical corpus: docs 0 and 1 share the 3-sentence run
    // [B. C! D?] (owner 0); the frontier holds exactly its window
    val hist = Seq(
      (0L, "H zero. B. C! D? tail zero."),
      (1L, "H one. B. C! D? tail one.")).toDF("doc_id", "text")
    val frontier = graft.operators.CorpusOps.sharedSentenceFrontier(hist)
    assert(frontier._1.nonEmpty)
    val arrivals = Seq(
      StreamDoc(10L, ts(0), "K ten. B. C! D? E ten."), // span scrubbed
      StreamDoc(11L, ts(1), "no terminal marks at all"),
      StreamDoc(12L, ts(2), "B. C! D?")) // exactly the owned span
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingSentenceScrub(in.toDS(), frontier)
      .writeStream.format("memory").queryName("sen_scrub_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("sen_scrub_out").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
      // the batch kernel over the same rows with the SAME frontier
      arrivals.foreach { d =>
        val expect = graft.operators.CorpusOps.scrubSentences(
          d.text, d.doc_id, frontier._1, frontier._2, 3)
        assert(got(d.doc_id) == expect, s"doc ${d.doc_id}")
      }
      // hand-expected: units of doc 10 = [K ten., " B.", " C!",
      // " D?", " E ten."]; only the EXACT frontier window
      // (" B."," C!"," D?") fires -> units 2..4 cut
      assert(got(10L) == (("K ten. E ten.", 2L, 3L)))
      assert(got(11L) == (("no terminal marks at all", 1L, 0L)))
      // doc 12's units ["B.", " C!", " D?"] differ from the
      // frontier's (" B."," C!"," D?") in the FIRST unit's leading
      // space -> byte-exact identity means no hit, doc kept
      assert(got(12L) == (("B. C! D?", 3L, 0L)))
    } finally q.stop()
  }

  test("streaming DSIR scores equal the batch weights bit-exactly") {
    import graft.streaming.StreamingOps.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // models mined batch-side over the full corpus (full-vocab
    // frontier at test scale), then a handful of the SAME corpus docs
    // arrive on the stream: every feature is in the frontier, so the
    // stream score must equal the batch operator's weight exactly
    val model = graft.operators.Search.dsirModel(spark, sf)
    val batch = graft.operators.Search.dsirWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val arrivals = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(_.getLong(0) % 9 == 0).take(12)
      .zipWithIndex
      .map { case (r, i) => StreamDoc(r.getLong(0), ts(i), r.getString(1)) }
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingDsirScore(in.toDS(), model)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got.size == arrivals.length)
      got.foreach { case (id, v) =>
        assert(v == batch(id), s"doc $id: stream $v != batch ${batch(id)}")
      }
    } finally q.stop()

    // frequency-floored frontier: unseen features score as ct=cq=0
    // (shift-only) — a doc of purely novel features scores n·shift
    val floored = model.copy(keys = Array.emptyLongArray,
      ct = Array.emptyLongArray, cq = Array.emptyLongArray)
    val in2 = MemoryStream[StreamDoc]
    val q2 = StreamingOps.streamingDsirScore(in2.toDS(), floored)
      .writeStream.format("memory").queryName("dsir_oov")
      .outputMode("append").start()
    try {
      in2.addData(StreamDoc(99L, ts(0), "zzz qqq"))
      q2.processAllAvailable()
      val r = spark.table("dsir_oov").collect().head
      assert(r.getLong(2) == 3L) // 2 unigrams + 1 bigram
      assert(r.getDouble(3) == 3.0 * model.shift)
    } finally q2.stop()
  }

  test("streaming near-dup within one batch keeps the earliest copy") {
    import graft.streaming.StreamingOps.StreamDoc
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 10
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingNearDup(in.toDS(), theta = 0.5)
      .writeStream.format("memory").queryName("near_dup_batch")
      .outputMode("append").start()
    try {
      in.addData(StreamDoc(11, ts(1), base), StreamDoc(10, ts(0), base),
        StreamDoc(12, ts(2), base))
      q.processAllAvailable()
      val got = spark.table("near_dup_batch").collect()
        .map(_.getAs[Long]("doc_id")).toSeq
      assert(got == Seq(10L), s"got $got")
    } finally q.stop()
  }

  test("contamination screen flags stream docs overlapping the reference set") {
    import graft.streaming.StreamingOps.StreamDoc
    // 60-token reference docs; the contaminated stream doc edits one
    // interior word → exact jaccard 55/61 ≈ 0.90, and any-of-8-bands
    // collision is near-certain at that similarity
    val eval1 = (1 to 60).map(i => s"evalA$i").mkString(" ")
    val eval2 = (1 to 60).map(i => s"evalB$i").mkString(" ")
    val clean = (1 to 60).map(i => s"clean$i").mkString(" ")
    val ref = Seq((100L, eval1), (200L, eval2)).toDF("ref_id", "text")
    val refIdx = StreamingOps.referenceIndex(ref)
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.contaminationScreen(in.toDS(), refIdx, theta = 0.6)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      in.addData(
        StreamDoc(1, ts(0), eval1.replaceFirst("evalA30 ", "edited ")),
        StreamDoc(2, ts(1), clean),
        StreamDoc(3, ts(2), eval2)) // verbatim eval2
      q.processAllAvailable()
      val got = spark.table("contam_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ref_id"))
        .toSet
      assert(got == Set(1L -> 100L, 3L -> 200L), s"got $got")
      val j = spark.table("contam_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("jaccard"))
        .toMap
      assert(j(3L) == 1.0, s"verbatim copy should have jaccard 1.0: $j")
      assert(j(1L) >= 0.6 && j(1L) < 1.0)
    } finally q.stop()
  }

  test("windowed counts aggregate per tumbling window with watermark") {
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(5), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0),
      Event(3, ts(65), 2, "b", 3.0))
    val q = runToMemory(
      StreamingOps.windowedCounts(in.toDF()), "win_counts", "update")
    try {
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getAs[Timestamp]("window_start").getTime / 60000 % 1440,
          r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
      assert(rows.contains((600, "a", 2L))) // 10:00 window, 2 events
      assert(rows.contains((660, "b", 1L)))
    } finally q.stop()
  }

  test("stateful sessionize emits closed sessions after gap + watermark") {
    val in = MemoryStream[Event]
    val q = StreamingOps.statefulSessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // session 1: two events close together; then 40-minute gap;
      // then an event far ahead that moves the watermark past the gap
      in.addData(Event(1, ts(0), 7, "a", 1.0), Event(2, ts(5), 7, "a", 2.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(120), 7, "a", 5.0)) // advances watermark
      q.processAllAvailable()
      in.addData(Event(4, ts(240), 7, "a", 0.0)) // flush further
      q.processAllAvailable()
      val sessions = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      assert(sessions.contains((2L, 3.0)),
        s"first session not closed: ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("session_window builtin groups events by gap") {
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0),
      Event(3, ts(120), 1, "a", 4.0), Event(4, ts(300), 9, "z", 9.0))
    val q = runToMemory(
      StreamingOps.sessionWindowAgg(in.toDF()), "sess_win", "append")
    try {
      // the 300-minute event pushes the watermark so earlier sessions close
      val rows = spark.table("sess_win").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSet
      assert(rows.contains((1L, 2L)), s"got $rows") // events at 0,10
      assert(rows.contains((1L, 1L))) // isolated event at 120
    } finally q.stop()
  }

  test("stream-static enrichment joins dimension attributes") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    in.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(1), 3, "b", 2.0))
    val q = runToMemory(
      StreamingOps.enrich(in.toDF(), dim), "enriched", "append")
    try {
      val rows = spark.table("enriched").collect()
        .map(r => (r.getAs[Long]("user_id"), Option(r.getAs[String]("tier"))))
        .toSet
      assert(rows == Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("stream-stream join pairs purchases with preceding clicks") {
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    purchases.addData(Event(100, ts(20), 1, "purchase", 9.99))
    clicks.addData(
      Event(1, ts(15), 1, "click", 0), // within 10 min -> joins
      Event(2, ts(5), 1, "click", 0), // too early -> no join
      Event(3, ts(16), 2, "click", 0)) // other user -> no join
    val q = runToMemory(
      StreamingOps.streamStreamJoin(purchases.toDF(), clicks.toDF()),
      "ss_join", "append")
    try {
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")))
        .toSet
      assert(rows == Set((100L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within watermark") {
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "a", 1.0), Event(1, ts(1), 1, "a", 1.0),
      Event(2, ts(2), 1, "b", 2.0))
    val q = runToMemory(
      StreamingOps.streamingDedup(in.toDF()), "dedup_stream", "append")
    try {
      val ids = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("event_id")).sorted
      assert(ids.sameElements(Array(1L, 2L)), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("round-8 projection kernels run unchanged in a streaming query") {
    import graft.streaming.StreamingOps.StreamDoc
    import graft.functions.HashFunctions.top_token_count
    import graft.functions.PiiFunctions.pii_scrub_text
    // stateless projections need no watermark/state — the exact
    // columns the batch operators use, applied to readStream rows
    val docs = Seq(
      StreamDoc(1, ts(0), "the quick brown fox and the lazy dog in the den"),
      StreamDoc(2, ts(1), "spam spam spam spam spam spam"),
      StreamDoc(3, ts(2), "reach me at u1@ex.com or 555-123-4567 ok"))
    def project(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        graft.operators.TextOps.modelQualityScore(col("text"))
          .as("q_score"),
        top_token_count(col("text")).as("top_c"),
        pii_scrub_text(col("text")).as("scrubbed"),
        // T30's rule statistics gate arrivals the same way (X9:
        // stateless kernels compose unchanged into streams)
        graft.functions.HashFunctions.gopher_stats(col("text"),
          graft.operators.TextOps.GopherStopList.mkString(" "))
          .as("gs"))
    val in = MemoryStream[StreamDoc]
    val q = project(in.toDF()).writeStream.format("memory")
      .queryName("kernels_out").outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
        (r.getDouble(1), r.getLong(2), r.getString(3),
          r.getSeq[Long](4)))
      val streamed = spark.table("kernels_out").collect().map(key).toMap
      val batch = project(docs.toDF()).collect().map(key).toMap
      assert(streamed == batch)
      assert(streamed(2)._2 == 6L) // repetition caught on the stream
      assert(streamed(3)._3.contains("<EMAIL>") &&
        streamed(3)._3.contains("<PHONE>"))
    } finally q.stop()
  }

  test("running word count matches WordCount semantics") {
    val in = MemoryStream[String]
    in.addData("spark flink spark", "flink spark")
    val q = runToMemory(
      StreamingOps.runningWordCount(
        in.toDF().select(encode(col("value"), "UTF-8").as("payload"))),
      "wc_run", "complete")
    try {
      val counts = spark.table("wc_run").collect()
        .map(r => r.getAs[String]("word") -> r.getAs[Long]("count")).toMap
      assert(counts == Map("spark" -> 3L, "flink" -> 2L))
    } finally q.stop()
  }

  test("streaming NB predictions and scores equal the batch classifier bit-exactly") {
    import graft.streaming.StreamingOps.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // model fit batch-side over the labeled corpus (full frontier at
    // test scale), then a handful of the SAME corpus docs arrive on
    // the stream: predictions and scaled scores are exact integers on
    // both paths, so equality is strict
    val model = graft.operators.Classify.nbModel(spark, sf)
    val batch = graft.operators.Classify.nbClassify(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val arrivals = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(_.getLong(0) % 9 == 0).take(12)
      .zipWithIndex
      .map { case (r, i) => StreamDoc(r.getLong(0), ts(i), r.getString(1)) }
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingNbClassify(in.toDS(), model)
      .writeStream.format("memory").queryName("nb_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("nb_out").collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getDouble(3)))).toMap
      assert(got.size == arrivals.length)
      got.foreach { case (id, v) =>
        assert(v == batch(id), s"doc $id: stream $v != batch ${batch(id)}")
      }
    } finally q.stop()

    // OOV contract: a doc of purely novel tokens matches nothing in
    // any class — its scores reduce to the smoothing scalars, and the
    // winner is the argmax of (−n·lnDenom + lnPrior), computable from
    // the exported model directly
    val expected = model.langs.indices.map(k =>
      (-2L * model.lnDenom(k) + model.lnPrior(k), model.langs(k))).max
    val in2 = MemoryStream[StreamDoc]
    val q2 = StreamingOps.streamingNbClassify(in2.toDS(), model)
      .writeStream.format("memory").queryName("nb_oov")
      .outputMode("append").start()
    try {
      in2.addData(StreamDoc(99L, ts(0), "zzz qqq"))
      q2.processAllAvailable()
      val r = spark.table("nb_oov").collect().head
      assert(r.getString(2) == expected._2)
      assert(r.getDouble(3) == expected._1.toDouble / 1e12)
    } finally q2.stop()
  }

  test("streaming bigram-LM perplexity equals the batch operator bit-exactly") {
    import graft.streaming.StreamingOps.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val model = graft.operators.Search.lm2Model(spark, sf)
    val batch = graft.operators.Search.lm2Perplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val arrivals = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(_.getLong(0) % 9 == 0).take(12)
      .zipWithIndex
      .map { case (r, i) => StreamDoc(r.getLong(0), ts(i), r.getString(1)) }
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingLm2Score(in.toDS(), model)
      .writeStream.format("memory").queryName("lm2_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("lm2_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got.size == arrivals.length)
      got.foreach { case (id, v) =>
        assert(v == batch(id), s"doc $id: stream $v != batch ${batch(id)}")
      }
    } finally q.stop()

    // OOV contract: a wholly novel 2-token doc prices its single
    // transition at the smoothing floor — computable from the model
    // scalars alone
    val lam = 0.75
    val floor = graft.functions.CentroidKernels.dec12Scaled(math.log(
      lam / model.vocab.toDouble +
        (1.0 - lam) / (model.total.toDouble + model.vocab.toDouble)))
    val in2 = MemoryStream[StreamDoc]
    val q2 = StreamingOps.streamingLm2Score(in2.toDS(), model)
      .writeStream.format("memory").queryName("lm2_oov")
      .outputMode("append").start()
    try {
      in2.addData(StreamDoc(99L, ts(0), "zzz qqq"),
        StreamDoc(100L, ts(1), "solo"))
      q2.processAllAvailable()
      val rs = spark.table("lm2_oov").collect()
      // the 1-token doc emits nothing (no transitions), batch contract
      assert(rs.length == 1 && rs.head.getLong(0) == 99L)
      assert(rs.head.getDouble(3) ==
        math.exp(-(floor.toDouble / 1e12) / 1.0))
    } finally q2.stop()
  }

  test("streaming chunking equals the batch operator on the same docs") {
    import graft.streaming.StreamingOps.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(_.getLong(0) % 7 == 0).take(20)
    val batch = graft.operators.CorpusOps.chunkDocsOf(
        spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq),
          spark.read.parquet(s"$sf/documents.parquet")
            .select("doc_id", "text").schema),
        chunkTokens = 32, overlap = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    val arrivals = rows.zipWithIndex.map { case (r, i) =>
      StreamDoc(r.getLong(0), ts(i), r.getString(1)) }
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingChunk(in.toDS(), 32, 8)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(2)) ->
          ((r.getString(3), r.getLong(4)))).toMap
      assert(got == batch)
      assert(got.nonEmpty && got.keys.exists(_._2 > 0L),
        "vacuous: no doc multi-chunked")
    } finally q.stop()
  }

  test("streaming incremental screen equals the batch screens under one persisted index") {
    import graft.streaming.StreamingOps.StreamDoc
    import graft.operators.IncrementalDedup
    val sf = "/root/testdata/sf0.001"
    val dir = TestDirs.create("graft_x16_idx").toString
    IncrementalDedup.saveIndex(IncrementalDedup.oldDocs(spark, sf), dir)
    val index = IncrementalDedup.loadIndex(spark, dir)

    // increment = the sf new half, plus two planted exact copies of
    // indexed docs (the sf corpora have no exact text dups, so the
    // exact branch needs planting to be non-vacuous)
    val newRows = IncrementalDedup.newDocs(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val planted = IncrementalDedup.oldDocs(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val plantedDocs = planted.zipWithIndex.map { case ((_, txt), i) =>
      (900001L + i, txt) }
    val increment = newRows ++ plantedDocs
    val incDf = increment.toSeq.toDF("doc_id", "text")

    val batchExact = IncrementalDedup.screenExactDocs(incDf, index)
      .filter(col("is_dup") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val batchNear = IncrementalDedup.screenNearDocs(incDf, index)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchExact.size >= 2, "planted exact copies must flag")
    assert(batchNear.nonEmpty, "sf corpus should have straddling near-dups")

    val arrivals = increment.zipWithIndex.map { case ((id, txt), i) =>
      StreamDoc(id, ts(i), txt) }
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingIncrementalScreen(in.toDS(), index)
      .writeStream.format("memory").queryName("incscreen_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val out = spark.table("incscreen_out").collect()
      val gotExact = out.filter(_.getAs[String]("match_kind") == "exact")
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"))).toSet
      val gotNear = out.filter(_.getAs[String]("match_kind") == "near")
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
          r.getAs[Double]("est_jaccard"))).toSet
      assert(gotExact == batchExact,
        s"stream-only=${gotExact -- batchExact} batch-only=${batchExact -- gotExact}")
      assert(gotNear == batchNear,
        s"stream-only=${gotNear -- batchNear} batch-only=${batchNear -- gotNear}")
    } finally q.stop()
  }

  test("X22 streaming verified screen equals batch verifyNearPairs under one index") {
    import graft.streaming.StreamingOps.StreamDoc
    import graft.operators.IncrementalDedup
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val dir = TestDirs.create("graft_x22_idx").toString
    val old = IncrementalDedup.oldDocs(spark, sf)
    IncrementalDedup.saveIndex(old, dir)
    val index = IncrementalDedup.loadIndex(spark, dir)
    val fresh = IncrementalDedup.newDocs(spark, sf)

    // batch reference: the D17 tail over the same split
    val cand = IncrementalDedup.screenNearDocs(fresh, index,
      minEst = 0.3).localCheckpoint()
    val batch = IncrementalDedup.verifyNearPairs(cand, fresh, old, 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(batch.nonEmpty, "sf split must produce verified pairs")

    val arrivals = fresh.select("doc_id", "text").collect()
      .zipWithIndex.map { case (r, i) =>
        StreamDoc(r.getLong(0), ts(i % 50), r.getString(1)) }
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingIncrementalScreenVerified(
        in.toDS(), index, old)
      .writeStream.format("memory").queryName("vscreen_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("vscreen_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
          r.getAs[Double]("est_jaccard"), r.getAs[Double]("jaccard")))
        .toSet
      assert(got == batch,
        s"stream-only=${(got -- batch).take(3)} batch-only=${(batch -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming ANN screen matches an in-driver reference over the persisted IVF index") {
    import graft.streaming.StreamingOps.StreamVec
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val dir = TestDirs.create("graft_x17_ivf").toString
    Similarity.saveIvfIndex(spark, sf, dir)
    val (centroids, assigned) = Similarity.loadIvfIndex(spark, dir)
    val export = Similarity.ivfCentroidsExport(centroids)
    val nProbe = 2; val minCosine = 0.5

    // queries = 5 corpus vectors under fresh ids (no self-filter hit);
    // the reference reads the vectors unpacked from the index
    val corpus = assigned.select(col("vec_id"),
        graft.functions.VectorFunctions.unpackFloats(col("emb_bin")),
        col("cell_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
    val queries = corpus.take(5).zipWithIndex.map { case ((_, e, _), i) =>
      StreamVec(500000L + i, ts(i), e) }

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def cosD(a: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, c.length)) {
        dot += a(i).toDouble * c(i); na += a(i).toDouble * a(i)
        nb += c(i) * c(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = queries.flatMap { q =>
      val cells = export.map { case (id, c) => (id, cosD(q.emb, c)) }
        .sortBy { case (id, d) => (-d, id) }.take(nProbe).map(_._1).toSet
      corpus.filter { case (_, _, cell) => cells(cell) }
        .map { case (vid, e, _) => (q.query_id, vid, cos(q.emb, e)) }
        .filter(_._3 >= minCosine)
        .map { case (qid, vid, _) => (qid, vid) }
    }.toSet
    assert(expected.nonEmpty, "vacuous: no candidate clears minCosine")

    val in = MemoryStream[StreamVec]
    val q = StreamingOps.streamingAnnScreen(in.toDS(), export, assigned,
        nProbe, minCosine)
      .writeStream.format("memory").queryName("annscreen_out")
      .outputMode("append").start()
    try {
      in.addData(queries.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("annscreen_out").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
        .toSet
      assert(got == expected,
        s"stream-only=${got -- expected} ref-only=${expected -- got}")
    } finally q.stop()
  }

  test("X19 streaming C4 gate matches the batch apply on the same docs") {
    import graft.streaming.StreamingOps.StreamDoc
    import graft.operators.TextOps
    val fixture = TextOps.c4PlantedDocs(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = {
      import spark.implicits._
      TextOps.c4Apply(fixture.toSeq.toDF("doc_id", "text"),
          badWords = Seq("badword"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    }
    assert(batch.nonEmpty)
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingC4(in.toDS(), badWords = Seq("badword"))
      .writeStream.format("memory").queryName("c4_out")
      .outputMode("append").start()
    try {
      in.addData(fixture.zipWithIndex.map { case ((id, t), i) =>
        StreamDoc(id, ts(i % 50), t) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("c4_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
          r.getAs[Long]("n_kept_lines"))).toSet
      assert(got == batch,
        s"stream-only=${(got -- batch).take(2)} batch-only=${(batch -- got).take(2)}")
    } finally q.stop()
  }

  test("X26 streaming Bloom screen matches the batch probe under one bitmap") {
    import graft.streaming.StreamingOps.StreamDoc
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val sf = "/root/testdata/sf0.001"
    val phrase = (0 until 13).map(i => s"ev$i").mkString(" ")
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 3,
          concat(col("text"), lit(" " + phrase)))
          .otherwise(col("text")).as("text"))
    val bits = Dedup.ngramBloomBuild(
      planted.filter(col("doc_id") % 7 === 0))
    val nonRef = planted.filter(col("doc_id") % 7 =!= 0)
    val batch = Dedup.screenNgramBloomWith(nonRef, bits).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch.nonEmpty)
    val docs = nonRef.collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingBloomScreen(in.toDS(), bits)
      .writeStream.format("memory").queryName("bloom_out")
      .outputMode("append").start()
    try {
      in.addData(docs.zipWithIndex.map { case ((id, t), i) =>
        StreamDoc(id, ts(i % 50), t) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("bloom_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_overlap")))
        .toMap
      assert(got == batch,
        s"stream-only=${(got.toSet -- batch.toSet).take(2)} " +
          s"batch-only=${(batch.toSet -- got.toSet).take(2)}")
      assert(spark.table("bloom_out").columns.contains("ts"))
    } finally q.stop()
  }

  test("X25 streaming quality signals match the batch signals table on the same docs") {
    import graft.streaming.StreamingOps.StreamDoc
    import graft.operators.TextOps
    val fixture = TextOps.c4PlantedDocs(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = {
      import spark.implicits._
      TextOps.qualitySignals(fixture.toSeq.toDF("doc_id", "text"),
          stopWords = Seq("the", "a"), badWords = Seq("badword"))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Double]("q_score"), r.getAs[Long]("n_bytes"),
            r.getAs[Long]("z_bytes"), r.getAs[Int]("keep_gopher"),
            r.getAs[Int]("keep_rep"), r.getAs[Int]("keep_c4"),
            r.getAs[Int]("keep_model"), r.getAs[Int]("keep_compress"),
            r.getAs[Int]("keep_all")))).toMap
    }
    assert(batch.nonEmpty)
    // both verdicts occur — the stream equality below is non-vacuous
    assert(batch.values.map(_._9).toSet == Set(0, 1))
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingQualitySignals(in.toDS(),
        stopWords = Seq("the", "a"), badWords = Seq("badword"))
      .writeStream.format("memory").queryName("signals_out")
      .outputMode("append").start()
    try {
      in.addData(fixture.zipWithIndex.map { case ((id, t), i) =>
        StreamDoc(id, ts(i % 50), t) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("signals_out").collect()
        .map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[Double]("q_score"), r.getAs[Long]("n_bytes"),
            r.getAs[Long]("z_bytes"), r.getAs[Int]("keep_gopher"),
            r.getAs[Int]("keep_rep"), r.getAs[Int]("keep_c4"),
            r.getAs[Int]("keep_model"), r.getAs[Int]("keep_compress"),
            r.getAs[Int]("keep_all")))).toMap
      assert(got == batch,
        s"diff=${(got.toSet -- batch.toSet).take(2)}")
      // the carried event time survives for downstream watermarks
      assert(spark.table("signals_out").columns.contains("ts"))
    } finally q.stop()
  }

  test("X28 streaming HTML extraction equals the batch kernel, ts carried") {
    import graft.streaming.StreamingOps.StreamHtml
    import graft.operators.TextOps
    val sf = "/root/testdata/sf0.001"
    // the T45 planted pages — markup fixtures whose every rule fires
    val pages = TextOps.plantHtml(
        spark.read.parquet(s"$sf/documents.parquet")
          .select(col("doc_id"), col("text")).limit(60))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(pages.nonEmpty)
    val batch = pages.toSeq.toDF("doc_id", "html")
      .select(col("doc_id"), TextOps.htmlTextOf(col("html")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val in = MemoryStream[StreamHtml]
    val q = runToMemory(
      StreamingOps.streamingHtmlExtract(in.toDS()), "html_out")
    try {
      in.addData(pages.zipWithIndex.map { case ((id, h), i) =>
        StreamHtml(id, ts(i % 50), h) }.toIndexedSeq: _*)
      q.processAllAvailable()
      val rows = spark.table("html_out").collect()
      val got = rows.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text"))).toMap
      assert(got == batch)
      // markup genuinely stripped, event time carried
      assert(got.values.forall(t => !t.contains("<p>")))
      assert(spark.table("html_out").columns.toSeq ==
        Seq("doc_id", "ts", "text"))
    } finally q.stop()
  }

  test("X27 streaming ingest admission composes the gates, the fp screen and the cap") {
    import graft.streaming.StreamingOps.StreamIngestDoc
    import graft.operators.{Dedup, DomainOps, Pipeline, TextOps}
    val sf = "/root/testdata/sf0.001"
    val (docs, blocklist) = Pipeline.releaseFixture(spark, sf)
    // "yesterday's release": the planted texts of doc_id ≡ 2 (mod 5)
    // — some of them pass every gate, so the fp screen genuinely
    // drops arrivals already released
    val released = docs.filter(col("doc_id") % 5 === 2)
    val bits = Dedup.fpBloomBuild(released)

    // batch stagewise reference (order-free contracts)
    val gated = DomainOps.domainGate(docs, blocklist)
      .filter(col("keep"))
      .select(col("doc_id"), col("text"), col("domain"))
    val sigIds = TextOps.qualitySignalsOf(gated,
        stopWords = Seq("the", "a"), badWords = Seq("badword"))
      .filter(col("keep_gopher") === 1 && col("keep_rep") === 1 &&
        col("keep_c4") === 1 && col("keep_model") === 1)
      .select(col("doc_id")).as[Long].collect().toSet
    val survivors = gated.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(t => sigIds(t._1))
      .map { case (id, t, dom) => (id, dom, Dedup.canonicalFpOf(t)) }
    val fresh = survivors.filterNot(s => Dedup.fpBloomHitFp(bits, s._3))
    assert(fresh.nonEmpty && fresh.length < survivors.length,
      "the released-corpus screen must genuinely drop arrivals")

    val rows = docs.collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        StreamIngestDoc(r.getAs[Long]("doc_id"), ts(i % 50),
          r.getAs[String]("url"), r.getAs[String]("text")) }
    val in = MemoryStream[StreamIngestDoc]
    val q = StreamingOps.streamingIngestAdmission(in.toDS(), blocklist,
        bits, stopWords = Seq("the", "a"), badWords = Seq("badword"),
        cap = 2)
      .writeStream.format("memory").queryName("ingest_admit")
      .outputMode("append").start()
    try {
      in.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ingest_admit").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
          r.getAs[String]("fp"), r.getAs[Long]("domain_rank"),
          r.getAs[Boolean]("keep")))
      // every emitted verdict is a stage-1..3 survivor, and every
      // survivor gets exactly one verdict with the batch fp
      assert(got.map(g => (g._1, g._2, g._3)).toSet == fresh.toSet)
      // admission accounting per domain: exactly min(cap, n) admitted,
      // ranks are 1..n
      val byDom = got.groupBy(_._2)
      byDom.foreach { case (dom, g) =>
        assert(g.count(_._5) == math.min(2, g.length), dom)
        assert(g.map(_._4).sorted.toSeq == (1L to g.length).toSeq, dom)
      }
      // refusals fire on some skewed domain
      assert(got.exists(!_._5), "cap never bit — vacuous admission")
      // no released page was ever admitted (one-sidedness)
      val releasedFps = released.collect()
        .map(r => Dedup.canonicalFpOf(r.getAs[String]("text"))).toSet
      assert(got.forall(g => !releasedFps.contains(g._3)))
    } finally q.stop()
  }

  test("X18 streaming per-query top-k equals batch annIvfIndexed under one index") {
    import graft.operators.Similarity
    import graft.streaming.StreamingOps.StreamVec
    val sf = "/root/testdata/sf0.001"
    val dir = TestDirs.create("graft_x18_ivf").toString
    Similarity.saveIvfIndex(spark, sf, dir)
    val (centroids, assigned) = Similarity.loadIvfIndex(spark, dir)
    val export = Similarity.ivfCentroidsExport(centroids)
    // the batch reference: same persisted index, default
    // (nProbe=2, k=5, nQueries=10), cosines compared bit for bit
    val expected = Similarity.annIvfIndexed(centroids, assigned).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      .toSet
    assert(expected.nonEmpty)
    // stream the SAME query vectors under their corpus ids, so the
    // self-filter behaves exactly like the batch search; they are
    // unpacked from the index, so the pack-at-arrival path runs end
    // to end
    val qvecs = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.unpackFloats(col("emb_bin")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(qvecs.length == 10)
    val in = MemoryStream[StreamVec]
    val q = StreamingOps.streamingAnnTopK(in.toDS(), export, assigned)
      .writeStream.format("memory").queryName("anntopk_out")
      .outputMode("append").start()
    try {
      in.addData(qvecs.zipWithIndex.map { case ((id, e), i) =>
        StreamVec(id, ts(i), e) }.toIndexedSeq: _*)
      q.processAllAvailable()
      // nothing emits while the queries are in-flight (append mode,
      // event-time timeout not yet reached)
      assert(spark.table("anntopk_out").isEmpty)
      // a late arrival advances the watermark past every query's ts;
      // the next batch fires the timeouts and emits the rankings
      in.addData(StreamVec(999999L, ts(120), qvecs.head._2))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("anntopk_out").collect()
        .map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine")),
          r.getAs[Int]("rnk")))
        .filter(_._1 < 10).toSet
      assert(got == expected,
        s"stream-only=${got -- expected} batch-only=${expected -- got}")
    } finally q.stop()
  }

  test("X18 ranking is replay-stable: identical under two candidate " +
      "arrival orders, ties broken by vec_id") {
    import graft.streaming.StreamingOps.StreamVec
    import spark.implicits._
    // ONE cell, eight corpus vectors, two of them IDENTICAL (ids 6/7
    // tie at the same cosine — the (cosine DESC, vec_id) rule must
    // decide, not the heap's insertion order). The candidate order a
    // query's group iterator sees comes from the stream-static join,
    // so the two runs repartition/sort the static side two opposite
    // ways — the X24 shuffled-two-ways pattern for the X18 heap.
    val base = Array.tabulate(8)(d => (d + 1).toFloat)
    def vec(scale: Float, tweak: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) =>
        v * scale + (if (d == tweak) 1.0f else 0.0f) }
    val corpus = Seq[(Long, Long, Array[Float])](
      (0L, 1L, vec(1.0f, 0)), (0L, 2L, vec(1.0f, 1)),
      (0L, 3L, vec(1.0f, 2)), (0L, 4L, vec(1.0f, 3)),
      (0L, 5L, vec(1.0f, 4)), (0L, 6L, vec(2.0f, -1)),
      (0L, 7L, vec(2.0f, -1)), // exact duplicate of 6: cosine tie
      (0L, 8L, vec(1.0f, 5)))
    val export = Array((0L, base.map(_.toDouble)))
    def ranked(shuffled: Boolean, name: String): Set[(Long, Long, Int)] = {
      val assigned0 = corpus.toDF("cell_id", "vec_id", "emb")
        .select(col("cell_id"), col("vec_id"),
          graft.functions.VectorFunctions.packFloats(col("emb"))
            .as("emb_bin"))
      val assigned =
        if (shuffled) assigned0.orderBy(col("vec_id").desc).repartition(7)
        else assigned0.repartition(2)
      val in = MemoryStream[StreamVec]
      val q = StreamingOps.streamingAnnTopK(in.toDS(), export, assigned,
          nProbe = 1, k = 5)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(StreamVec(100L, ts(0), base))
        q.processAllAvailable()
        in.addData(StreamVec(999L, ts(120), base)) // watermark push
        q.processAllAvailable()
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("neighbor_id"), r.getAs[Int]("rnk")))
          .filter(_._1 == 100L).toSet
      } finally q.stop()
    }
    val fwd = ranked(shuffled = false, "anntopk_replay_fwd")
    val rev = ranked(shuffled = true, "anntopk_replay_rev")
    assert(fwd == rev, s"replay drift: $fwd vs $rev")
    // the tied duplicates rank adjacently with 6 before 7 (vec_id ASC)
    val rankOf = fwd.map(r => r._2 -> r._3).toMap
    assert(rankOf.contains(6L) && rankOf.contains(7L), s"got $fwd")
    assert(rankOf(6L) + 1 == rankOf(7L),
      s"tie not broken by vec_id: $fwd")
  }

  test("X7 within-batch suppression is replay-stable: pinned to " +
      "(ts, doc_id), independent of enqueue order") {
    import graft.streaming.StreamingOps.StreamDoc
    // four copies of one doc in ONE micro-batch, ts order deliberately
    // disagreeing with doc_id order and one (ts) tie — the sort pin
    // must keep the SAME survivor (smallest (ts, doc_id) = 11) under
    // both enqueue orders; unpinned, the group iterator's raw order
    // would crown whichever copy the batch partitioning put first
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      StreamDoc(10, ts(2), base),
      StreamDoc(11, ts(0), base),
      StreamDoc(14, ts(0), base), // ts tie with 11: doc_id decides
      StreamDoc(12, ts(1), base))
    def survivors(order: Seq[StreamDoc], name: String): Set[Long] = {
      val in = MemoryStream[StreamDoc]
      val q = StreamingOps.streamingNearDup(in.toDS(), theta = 0.7)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(order: _*)
        q.processAllAvailable()
        spark.table(name).collect()
          .map(_.getAs[Long]("doc_id")).toSet
      } finally q.stop()
    }
    val fwd = survivors(docs, "neardup_replay_fwd")
    val rev = survivors(docs.reverse, "neardup_replay_rev")
    assert(fwd == Set(11L), s"got $fwd") // smallest (ts, doc_id)
    assert(rev == fwd, s"replay drift: $rev vs $fwd")
  }

  test("X29 streaming domain line dedup scrubs only the arriving doc's own domain frontier") {
    import graft.streaming.StreamingOps.StreamSiteDoc
    // historical corpus: a.com has 3 docs sharing the "nav" line
    // (frontier member); b.com has one doc with the SAME line (df 1
    // on its own domain -- not in the frontier)
    val hist = Seq(
      (0L, "a.com", "nav\nu zero"),
      (1L, "a.com", "nav\nu one"),
      (2L, "a.com", "nav\nu two"),
      (3L, "b.com", "nav\nu three")).toDF("doc_id", "domain", "text")
    val banned = graft.operators.CorpusOps
      .bannedDomainLineFrontier(hist, minDf = 3)
    assert(banned.nonEmpty)
    val arrivals = Seq(
      StreamSiteDoc(10L, ts(0), "a.com", "nav\nfresh ten"),
      StreamSiteDoc(11L, ts(1), "b.com", "nav\nfresh eleven"),
      StreamSiteDoc(12L, ts(2), "a.com", "nav"))
    val in = MemoryStream[StreamSiteDoc]
    val q = StreamingOps.streamingDomainLineDedup(in.toDS(), banned)
      .writeStream.format("memory").queryName("dom_line_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("dom_line_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
            r.getAs[Long]("n_dropped")))).toMap
      // a.com arrival loses ITS site's chrome; the identical line on
      // b.com survives (no b.com frontier entry); all-chrome arrival
      // empties but still emits (membership contract)
      assert(got(10L) == (("fresh ten", 1L, 1L)))
      assert(got(11L) == (("nav\nfresh eleven", 2L, 0L)))
      assert(got(12L) == (("", 0L, 1L)))
      assert(got.size == 3)
      assert(spark.table("dom_line_out").columns.contains("ts"))
    } finally q.stop()
  }

  test("X30 streaming holdout screen classifies arrivals against the released holdout frontier") {
    import graft.streaming.StreamingOps.StreamDoc
    // the released holdout: one doc whose 13-gram set is the frontier
    val phrase = (0 until 13).map(i => s"hv$i").mkString(" ")
    val holdout = Seq((0L, s"pre $phrase post")).toDF("doc_id", "text")
    val evalGrams = {
      import org.apache.spark.sql.functions.col
      holdout.select(col("text")).collect().map(_.getString(0))
        .flatMap(t => graft.operators.Dedup.ngramFnvKeys(t, 13))
        .distinct.sorted
    }
    assert(evalGrams.length == 3, "15-token holdout doc -> 3 windows")
    val arrivals = Seq(
      StreamDoc(10L, ts(0), s"quoted $phrase here"), // leaks the plant
      StreamDoc(11L, ts(1),
        (0 until 20).map(i => s"fr$i").mkString(" ")), // fresh
      StreamDoc(12L, ts(2), "short doc"))              // < 13 tokens
    val in = MemoryStream[StreamDoc]
    val q = StreamingOps.streamingHoldoutScreen(in.toDS(), evalGrams)
      .writeStream.format("memory").queryName("holdout_out")
      .outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("holdout_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("role"), r.getAs[Long]("n_overlap")))).toMap
      assert(got(10L) == (("contaminated", 1L)),
        "the pure-plant window must hit exactly once")
      assert(got(11L) == (("train", 0L)))
      assert(got(12L) == (("train", 0L)))
      assert(got.size == 3)
      assert(spark.table("holdout_out").columns.contains("ts"))
    } finally q.stop()
  }

  test("checkpoint manager: local paths get the NIO-mode file system, other schemes Spark's own pick") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    import graft.streaming.{GraftCheckpointFileManager, NioLocalFileSystem}
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val dir = TestDirs.create("ckpt-mgr-")
    // a plain LocalFileSystem sits in Hadoop's JVM-wide cache first
    assert(FileSystem.get(dir.toUri, conf).isInstanceOf[LocalFileSystem])
    for (p <- Seq(new Path(dir.toUri), new Path(dir.toString))) {
      val m = new GraftCheckpointFileManager(p, conf)
      assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(m.localFileSystem.exists(_.isInstanceOf[NioLocalFileSystem]),
        s"$p: ${m.localFileSystem.map(_.getClass)}")
    }
    // a user's own file:// implementation is left alone
    val own = new Configuration(conf)
    own.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val ownPath = new Path(dir.toUri)
    assert(new GraftCheckpointFileManager(ownPath, own).delegate.getClass ==
      CheckpointFileManager.create(ownPath, own).getClass)
    // any other scheme: exactly the class Spark picks without graft.
    // "other" is a local-backed scheme with a FileContext binding, so
    // Spark's pick differs from the local manager and needs no server
    val other = new Configuration(conf)
    other.set("fs.AbstractFileSystem.other.impl", classOf[OtherSchemeFs].getName)
    val otherPath = new Path("other:///ckpt")
    val sparks = CheckpointFileManager.create(otherPath, other)
    val ours = new GraftCheckpointFileManager(otherPath, other)
    assert(ours.delegate.getClass == sparks.getClass)
    assert(ours.localFileSystem.isEmpty)
    assert(!sparks.isInstanceOf[FileSystemBasedCheckpointFileManager],
      s"Spark picked ${sparks.getClass}: the check would not tell the two apart")
  }
}

/** FileContext binding for a scheme named "other", backed by local
  * files: a non-`file` scheme for which Spark picks its FileContext
  * checkpoint manager without a server.
  */
class OtherSchemeFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
      new org.apache.hadoop.fs.RawLocalFileSystem, conf, "other", false)

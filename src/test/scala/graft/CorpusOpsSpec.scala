package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CorpusOps
import graft.plans.GlobalOrder

/** T9 novelty and T10 sequence packing against exact in-driver
  * references, plus the distributed prefix-sum primitive itself.
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The oracle's shingle semantics: 1-indexed trigrams over
    * whitespace tokens, distinct, first-occurrence order irrelevant.
    */
  private def shingles(text: String): Set[String] =
    text.trim.split("\\s+").toSeq.sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  test("textNovelty matches an exact in-driver df computation") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val df = scala.collection.mutable.Map[String, Int]()
    docs.foreach { case (_, t) =>
      shingles(t).foreach(s => df(s) = df.getOrElse(s, 0) + 1) }
    val expected = docs.flatMap { case (id, t) =>
      val sh = shingles(t)
      if (sh.isEmpty) None
      else Some(id -> ((sh.size.toLong,
        sh.count(df(_) == 1).toLong)))
    }.toMap

    val got = CorpusOps.textNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // novelty column is exactly n_unique / n_shingles
    CorpusOps.textNovelty(spark, sf).collect().foreach { r =>
      assert(r.getDouble(3) == r.getLong(2).toDouble / r.getLong(1))
    }
  }

  test("packSequences matches a sequential greedy offset packer") {
    val target = 2048L
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n"))
      .orderBy("doc_id").as[(Long, Long)].collect()
    var off = 0L
    val expected = toks.map { case (id, n) =>
      val bin = off / target; off += n; (id, n, bin) }.toSeq

    val got = CorpusOps.packSequences(spark, sf, target).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // bins are monotone in doc order and fills stay in
    // [target - maxDoc, target + maxDoc] for every closed bin
    val fills = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val maxDoc = toks.map(_._2).max
    val closed = fills.keys.toSeq.sorted.dropRight(1)
    closed.foreach { b =>
      assert(fills(b) <= target + maxDoc && fills(b) >= target - maxDoc,
        s"bin $b fill ${fills(b)}")
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("exportShards matches the greedy packer over the seeded md5 shuffle") {
    val tps = 4096L
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n"))
      .as[(Long, Long)].collect()
    // the in-driver reference: shuffle by md5("7:" + id), greedy offset
    val order = toks.sortBy { case (id, _) => (md5hex(s"7:$id"), id) }
    var off = 0L
    val expected = order.map { case (id, n) =>
      val sh = off / tps; off += n; (id, n, sh) }.sortBy(_._1).toSeq

    val got = CorpusOps.exportShards(spark, sf, tps).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // shards partition the corpus and every closed shard's fill is
    // within one max-doc of the target (the offset-rule balance bound)
    assert(got.map(_._1).toSet == toks.map(_._1).toSet)
    val fills = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val maxDoc = toks.map(_._2).max
    fills.keys.toSeq.sorted.dropRight(1).foreach { s =>
      assert(fills(s) >= tps - maxDoc && fills(s) <= tps + maxDoc,
        s"shard $s fill ${fills(s)}")
    }
    // the shuffle genuinely decorrelates doc_id order: the assignment
    // differs from the unshuffled packSequences binning
    val packed = CorpusOps.packSequences(spark, sf, tps).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.exists { case (id, _, sh) => packed(id) != sh })
  }

  test("exportShards is seed-reproducible and seed-sensitive") {
    val a1 = CorpusOps.exportShards(spark, sf, 4096L, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val a2 = CorpusOps.exportShards(spark, sf, 4096L, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val b = CorpusOps.exportShards(spark, sf, 4096L, seed = 12L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(a1 == a2)
    assert(a1 != b)
    // both seeds pack the same token mass into the same shard count
    assert(a1.map(_._2).max == b.map(_._2).max)
  }

  test("shardManifest is the exact rollup of the assignment") {
    val tps = 4096L
    val assign = CorpusOps.exportShardsDocs(
        spark.read.parquet(s"$sf/documents.parquet"), tps)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3)))
    val expected = assign.groupBy(_._4).map { case (sh, rows) =>
      val byH = rows.sortBy(r => (r._3, r._1))
      (sh, rows.length.toLong, rows.map(_._2).sum,
        byH.head._1, byH.last._1)
    }.toSet
    val got = CorpusOps.shardManifest(spark, sf, tps).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
  }

  test("withPrefixSum equals scanLeft on shuffled multi-partition input") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 5000L).map(i => (i, rnd.nextInt(100).toLong))
    val df = spark.createDataset(rnd.shuffle(rows)).toDF("k", "v")
      .repartition(13)
    val got = GlobalOrder.withPrefixSum(df, Seq(col("k")), "v", "cs")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expected = rows.map(_._2).scanLeft(0L)(_ + _).tail
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    assert(got.sortBy(_._1).toSeq == expected.toSeq)
  }

  test("withPrefixSumKeyed equals per-key scanLeft on shuffled multi-partition input") {
    val rnd = new scala.util.Random(11)
    val keys = Vector("a", "b", "c", "dd", "e")
    val rows = (0L until 4000L).map(i =>
      (keys(rnd.nextInt(keys.size)), i, rnd.nextInt(50).toLong))
    val df = spark.createDataset(rnd.shuffle(rows))
      .toDF("k", "i", "v").repartition(11)
    val got = GlobalOrder
      .withPrefixSumKeyed(df, "k", Seq(col("i")), "v", "cs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // reference: running sum per key in (k, i) order
    val run = scala.collection.mutable.Map[String, Long]()
    val expected = rows.sortBy(t => (t._1, t._2)).map { case (k, i, v) =>
      val s = run.getOrElse(k, 0L) + v; run(k) = s; (k, i, s)
    }
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected.toSeq)
  }

  test("withPrefixSumKeyed fails loudly on a NULL key, naming the column") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row("a", 1L, 2L),
        org.apache.spark.sql.Row(null, 2L, 3L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val ex = intercept[Exception] {
      GlobalOrder.withPrefixSumKeyed(df, "k", Seq(col("i")), "v")
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf).toList
    assert(msgs.exists(m => m.contains("'k'") && m.contains("NULL")),
      s"expected the null-key contract failure, got: $msgs")
  }

  // reference tokenization = the ORACLE's semantics (DuckDB
  // trim-spaces-only + RE2 \s split keeping edge empty tokens), and
  // tie-break ordering = UTF-8 byte order (what both engines sort
  // strings by; Java String ordering diverges for supplementary-
  // plane chars)
  private def refGrams(t: String): Seq[String] = {
    val trimmed = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val tk = trimmed.split("[ \t\n\f\r]+", -1)
    (0 to tk.length - 3).map(i => tk(i) + " " + tk(i + 1) + " " + tk(i + 2))
  }
  private val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    var r = 0
    while (r == 0 && i < n) {
      r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff); i += 1
    }
    if (r != 0) r else java.lang.Integer.compare(x.length, y.length)
  }

  test("topNgrams == exact in-driver trigram counts, top-k frontier ordered") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map[String, Long]()
    docs.foreach(t => refGrams(t).foreach(g =>
      counts(g) = counts.getOrElse(g, 0L) + 1L))
    val k = 100
    val expected = counts.toSeq
      .sortBy(_._1)(utf8Order).sortBy(-_._2).take(k)
    val got = CorpusOps.topNgrams(spark, sf, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
    assert(got.head._2 > 1L, "no repeated trigram — vacuous mining test")
    // the shape stays heap-based: top-k must plan TakeOrdered, and
    // the gram builder must not ride a Generate (the linted trap)
    val plan = CorpusOps.topNgrams(spark, sf, k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
    assert(!plan.contains("Generate"), s"explode crept back in:\n$plan")
  }

  test("topNgramsApprox == exact topNgrams when counts clear the MG bound") {
    val k = 50
    val capacity = 16384
    val exact = CorpusOps.topNgrams(spark, sf, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // the guarantee's PRECONDITION must hold at this capacity — the
    // k-th count clears totalGrams/capacity (at 4096 this fixture's
    // count-5 tail sits BELOW the bound and MG legitimately misses
    // count-6 grams; the operator's contract is conditional)
    val total = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(r => refGrams(r.getString(0)).length)
      .sum.toLong
    assert(exact.last._2 > total / capacity,
      s"fixture too flat for the certification bound " +
        s"(kth=${exact.last._2}, N/m=${total / capacity})")
    val approx = CorpusOps.topNgramsApprox(spark, sf, k, capacity)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(approx == exact,
      "MG candidates missed a true top-k gram despite the bound holding")
  }

  test("gram tokenization mirrors DuckDB on edge whitespace (tabs, newlines, \\x0B)") {
    // verified DuckDB 1.0.0 behavior: trim strips spaces ONLY, so a
    // leading tab yields an edge empty token; a trailing newline
    // yields a trailing empty token; \x0B is NOT whitespace to RE2.
    // Java trim/split("\\s+") gets all three wrong.
    import spark.implicits._
    val dir = TestDirs.create("edgews").toString
    Seq((0L, "s", "\tfoo bar baz"), (1L, "s", "foo bar baz\n"),
      (2L, "s", "a\u000bb c d"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val grams = CorpusOps.topNgrams(spark, dir, k = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grams(" foo bar") == 1L, s"leading-tab empty token lost: $grams")
    assert(grams("bar baz ") == 1L, s"trailing-newline empty token lost: $grams")
    assert(grams("a\u000bb c d") == 1L, s"\\x0B wrongly split: $grams")
    assert(grams("foo bar baz") == 2L, grams.toString)
  }

  test("boilerplateShare counts exactly the top-k grams per document") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = scala.collection.mutable.Map[String, Long]()
    docs.foreach(d => refGrams(d._2).foreach(g =>
      counts(g) = counts.getOrElse(g, 0L) + 1L))
    val top = counts.toSeq.sortBy(_._1)(utf8Order).sortBy(-_._2)
      .take(100).map(_._1).toSet
    val expected = docs.flatMap { case (id, t) =>
      val gs = refGrams(t)
      if (gs.isEmpty) None
      else Some(id -> (gs.length.toLong, gs.count(top).toLong))
    }.toMap
    val got = CorpusOps.boilerplateShare(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.values.exists(_._2 > 0L), "no boilerplate hit — vacuous test")
  }

  test("lineDedup: df frontier, in-doc repeats, empty lines, emptied docs") {
    import graft.operators.CorpusOps.lineDedup
    // "boiler" sits in 3 distinct docs (dropped at minDf=3) — doc 0
    // repeats it twice (counts ONCE toward df, BOTH occurrences
    // dropped); "pair" sits in 2 docs (kept); doc 3 is entirely
    // boilerplate (stays in the corpus, empty clean_text); doc 4 has
    // an empty line and a trailing newline (split keeps empties —
    // the empty line is in 2 docs only, kept).
    val docs = Seq(
      (0L, "boiler\nunique zero\nboiler\npair"),
      (1L, "boiler\nunique one\npair"),
      (2L, "boiler\nunique two"),
      (3L, "boiler"),
      (4L, "unique four\n\nlast\n"),
      (5L, "unique five\n")).toDF("doc_id", "text")
    val got = lineDedup(docs, minDf = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("unique zero\npair", 2L, 2L)))
    assert(got(1L) == (("unique one\npair", 2L, 1L)))
    assert(got(2L) == (("unique two", 1L, 1L)))
    assert(got(3L) == (("", 0L, 1L)), "emptied doc must stay, empty")
    // "" appears in docs 4 and 5 (trailing-newline empties): df=2, kept
    assert(got(4L) == (("unique four\n\nlast\n", 4L, 0L)))
    assert(got(5L) == (("unique five\n", 2L, 0L)))
    assert(got.size == 6)
  }

  test("paragraphDedup: blank-line granularity, embedded newlines, nesting") {
    import graft.operators.CorpusOps.{lineDedup, paragraphDedup}
    // "nav\nhome" is a two-LINE paragraph recurring in 3 docs —
    // dropped whole at paragraph granularity even though the pair of
    // lines never repeats as individual df≥3 lines elsewhere; each
    // doc's unique paragraph is kept, INCLUDING its embedded single
    // newlines; "pair" sits in 2 docs (kept at minDf=3).
    val docs = Seq(
      (0L, "nav\nhome\n\nzero body\nzero more\n\npair"),
      (1L, "nav\nhome\n\none body\n\npair"),
      (2L, "nav\nhome\n\ntwo body"),
      (3L, "solo three")).toDF("doc_id", "text")
    val got = paragraphDedup(docs, minDf = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("zero body\nzero more\n\npair", 2L, 1L)))
    assert(got(1L) == (("one body\n\npair", 2L, 1L)))
    assert(got(2L) == (("two body", 1L, 1L)))
    assert(got(3L) == (("solo three", 1L, 0L)))
    // the NESTED case: a kept paragraph can still carry a banned
    // LINE — composing paragraph → line dedup drops the line but
    // keeps the rest of the paragraph
    val nested = Seq(
      (0L, "keep zero\ncookie banner\n\nbody zero"),
      (1L, "keep one\ncookie banner\n\nbody one"),
      (2L, "keep two\ncookie banner"),
      (3L, "keep three")).toDF("doc_id", "text")
    // no paragraph recurs 3x -> paragraph pass is the identity here
    val afterPar = paragraphDedup(nested, minDf = 3)
    assert(afterPar.collect().map(_.getLong(3)).sum == 0)
    val composed = lineDedup(afterPar
      .select(col("doc_id"), col("clean_text").as("text")), minDf = 3)
      .collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(composed(0L) == "keep zero\n\nbody zero",
      "banned line inside a kept paragraph must still drop")
    assert(composed(2L) == "keep two")
  }

  test("paragraphDedupQuery is non-degenerate at sf") {
    val got = graft.operators.CorpusOps.paragraphDedupQuery(spark, sf)
      .collect()
    assert(got.nonEmpty)
    // every doc keeps its unique content + ref paragraphs and drops
    // the hdr/ftr boilerplate blocks
    assert(got.forall(_.getLong(2) == 2L),
      "each planted doc keeps exactly 2 paragraphs")
    assert(got.forall(_.getLong(3) == 2L),
      "each planted doc drops exactly 2 boilerplate blocks")
    // the kept content paragraph preserves its embedded newline
    assert(got.forall(_.getString(1).contains("\ninner ")))
  }

  test("corpusDiff classifies added/removed/modified/unchanged by content") {
    import graft.operators.CorpusOps.corpusDiff
    val v1 = Seq(
      (1L, "stays the same"),
      (2L, "will be edited"),
      (3L, "will be removed"),
      (5L, "reflows   only")).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "stays the same"),
      (2L, "will be edited differently"),
      (4L, "brand new doc"),
      (5L, "reflows only")).toDF("doc_id", "text") // whitespace only
    val got = corpusDiff(v1, v2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added",
      5L -> "unchanged")) // canonical identity ignores reflow
    // registered query exercises all four verdicts at sf
    val verdicts = graft.operators.CorpusOps.corpusDiffQuery(spark, sf)
      .select("verdict").collect().map(_.getString(0)).toSet
    assert(verdicts == Set("added", "removed", "modified", "unchanged"))
  }

  test("splitSentenceUnits: byte-preserving units at terminal-mark runs") {
    import graft.operators.CorpusOps.splitSentenceUnits
    def u(t: String) = splitSentenceUnits(t).toSeq
    assert(u("a. b! c?") == Seq("a.", " b!", " c?"))
    assert(u("no terminal here") == Seq("no terminal here"))
    assert(u("ellipsis... mid. tail") ==
      Seq("ellipsis...", " mid.", " tail")) // runs collapse into one unit
    assert(u("x.y.z") == Seq("x.", "y.", "z"))
    assert(u("") == Seq())
    assert(u("...") == Seq("..."))
    // reconstruction is byte-exact concatenation
    val t = "He said. \"Quote!\" And then... done? tail"
    assert(u(t).mkString == t)
  }

  test("sentenceSpanScrub cuts spans owned by earlier docs, keeps the first") {
    import graft.operators.CorpusOps.sentenceSpanScrub
    // docs 0 and 1 share the 3-sentence run [B. C! D?]; doc 0 owns
    // it. doc 2 has < 3 units - untouchable. doc 3 repeats doc 0's
    // full text - every window owned by 0, but only units inside
    // shared windows drop (all of doc 3's units sit in one).
    val docs = Seq(
      (0L, "A zero. B. C! D? E tail."),
      (1L, "A one. B. C! D? E other."),
      (2L, "short. stub."),
      (3L, "A zero. B. C! D? E tail.")).toDF("doc_id", "text")
    val got = sentenceSpanScrub(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("A zero. B. C! D? E tail.", 5L, 0L)))
    // doc 1: units [A one., B., C!, D?, E other.]; shared windows
    // with doc 0 = (B.,C!,D?) only -> units 2..4 cut
    assert(got(1L) == (("A one. E other.", 2L, 3L)))
    assert(got(2L) == (("short. stub.", 2L, 0L)))
    // doc 3 = exact dup of doc 0: every window fires, all units cut
    assert(got(3L) == (("", 0L, 5L)))
  }

  test("sentenceSpanScrubJoin == broadcast shape on hand-built and sf corpora") {
    import graft.operators.CorpusOps.{sentenceSpanScrub, sentenceSpanScrubJoin}
    def outOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val docs = Seq(
      (0L, "A zero. B. C! D? E tail."),
      (1L, "A one. B. C! D? E other."),
      (2L, "short. stub."),
      (3L, "A zero. B. C! D? E tail.")).toDF("doc_id", "text")
    assert(outOf(sentenceSpanScrubJoin(docs)) ==
      outOf(sentenceSpanScrub(docs)))
    // and on the planted sf fixture the registered query uses
    val planted = graft.Tables.documents(spark, sf).select(col("doc_id"),
      when(col("doc_id") % 9 === 2,
        concat(col("text"), lit(". shr zero. shr one! shr two?")))
        .otherwise(col("text")).as("text"))
    val broadcastOut = outOf(sentenceSpanScrub(planted))
    assert(outOf(sentenceSpanScrubJoin(planted)) == broadcastOut)
    assert(broadcastOut.exists(_._4 > 0))
  }

  test("sentenceSpanScrubQuery plants a real shared span at sf") {
    val got = graft.operators.CorpusOps
      .sentenceSpanScrubQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(got.nonEmpty)
    val planted = got.filter(_._1 % 9 == 2)
    assert(planted.length > 1)
    val owner = planted.minBy(_._1)
    assert(owner._3 == 4L && owner._4 == 0L,
      s"lowest planted id must keep the passage: $owner")
    assert(planted.filter(_._1 != owner._1)
      .forall(p => p._3 == 1L && p._4 == 3L),
      "every later planted doc scrubs back to its own text. unit")
    assert(got.filter(_._1 % 9 != 2).forall(_._4 == 0L),
      "unplanted docs are untouched")
  }

  test("substringScrub cuts exactly the windows owned by earlier docs") {
    import graft.operators.CorpusOps.substringScrub
    // doc 1 embeds doc 0's full 8-token window (positions 3..10) —
    // scrubbed, its unique frame kept; doc 2 is an exact dup of doc 0
    // — every window owned by 0, fully scrubbed; doc 3 is short (< 8
    // tokens) — untouchable; doc 0 (the first occurrence) keeps all.
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x y z a b c d e f g h w"),
      (2L, "a b c d e f g h i j"),
      (3L, "a b c")).toDF("doc_id", "text")
    val got = substringScrub(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("a b c d e f g h i j", 10L, 0L)))
    assert(got(1L) == (("x y z w", 4L, 8L)))
    assert(got(2L) == (("", 0L, 10L)), "exact dup must scrub to empty")
    assert(got(3L) == (("a b c", 3L, 0L)))
    assert(got.size == 4)

    // overlapping shared windows merge their coverage: doc 5 shares
    // doc 4's 9-token run — both 8-token windows hit, 9 tokens cut
    val docs2 = Seq(
      (4L, "p q r s t u v w x"),
      (5L, "k p q r s t u v w x m")).toDF("doc_id", "text")
    val got2 = substringScrub(docs2).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got2(5L) == (("k m", 2L, 9L)))
  }

  test("substringScrubJoin equals the broadcast scrub on every corpus shape") {
    import graft.operators.CorpusOps.{substringScrub, substringScrubJoin}
    def collectAll(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    // the hand-built shapes: partial overlap, exact dup, short doc,
    // merged coverage
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x y z a b c d e f g h w"),
      (2L, "a b c d e f g h i j"),
      (3L, "a b c"),
      (4L, "k p q r s t u v w x m")).toDF("doc_id", "text")
    assert(collectAll(substringScrubJoin(docs)) ==
      collectAll(substringScrub(docs)))
    // and the real planted query corpus at sf0.001 (dup groups +
    // shared passages + empty-window docs)
    val phrase = (0 until 10).map(i => s"sp$i").mkString(" ")
    val planted = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" " + phrase)))
          .otherwise(col("text")).as("text"))
    assert(collectAll(substringScrubJoin(planted)) ==
      collectAll(substringScrub(planted)))
  }

  test("substringScrub guards the shared-window frontier collect") {
    import graft.operators.CorpusOps.substringScrub
    val t = (0 until 32).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, t), (1L, t), (2L, t)).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      substringScrub(docs, maxShared = 3).collect()
    }
    assert(e.getMessage.contains("maxShared"))
  }

  test("lineDedup guards the banned-frontier driver collect") {
    import graft.operators.CorpusOps.lineDedup
    val docs = Seq((0L, "a\nb"), (1L, "a\nb"), (2L, "a\nb"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      lineDedup(docs, minDf = 2, maxBanned = 1).collect()
    }
    assert(e.getMessage.contains("maxBanned"))
  }

  test("lineDedupQuery matches an exact in-driver line-df reference") {
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "source", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val planted = raw.map { case (id, t, src, lang) =>
      id -> s"hdr $src\n$t\nref ${id / 2}\nftr $lang"
    }
    val df = scala.collection.mutable.Map[String, Int]()
    planted.foreach { case (_, t) =>
      t.split("\n", -1).distinct.foreach(l =>
        df(l) = df.getOrElse(l, 0) + 1)
    }
    val expected = planted.map { case (id, t) =>
      val kept = t.split("\n", -1).filter(df(_) < 3)
      id -> ((kept.mkString("\n"),
        kept.length.toLong,
        (t.split("\n", -1).length - kept.length).toLong))
    }.toMap
    val got = graft.operators.CorpusOps.lineDedupQuery(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // non-vacuous: headers/footers dropped, ref lines kept
    assert(got.values.exists(_._3 >= 2L), "nothing dropped — vacuous")
    assert(got.values.forall(_._2 >= 1L), "a doc lost its content line")
  }

  test("mixSources hits each source's integer token target with the offset rule") {
    val budget = 20000L
    val got = CorpusOps.mixSources(spark, sf, budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty)
    // recompute targets + md5-order selection in the driver
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getString(3)))
    val totals = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val ws = totals.view.mapValues(t => math.sqrt(t.toDouble).toLong).toMap
    val totW = ws.values.sum
    val targets = ws.view.mapValues(w => budget * w / totW).toMap
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(d => (d._4, d._1)).toSeq.flatMap { case (id, _, n, _) =>
        val start = cum; cum += n
        if (start < targets(src)) Some((id, src, n)) else None
      }
    }.toSet
    assert(got.toSet == expected)
    // every source is represented (α=0.5 keeps low-resource sources)
    assert(got.map(_._2).distinct.length == totals.size)
  }

  test("mixSourcesSampled: in-driver reference, τ=0 recovery, seed contract") {
    val budget = 20000L
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val det = collect(CorpusOps.mixSources(spark, sf, budget))
    // τ=0: the Gumbel term vanishes and the (gkey, h, doc_id) sort
    // IS the md5 sort — exact recovery of the deterministic mix
    assert(collect(CorpusOps.mixSourcesSampled(spark, sf, budget,
      tau = 0.0, seed = 7L)) == det, "τ=0 did not recover mixSources")
    // a fixed seed is a deterministic artifact; a different seed
    // genuinely resamples
    val s42a = collect(CorpusOps.mixSourcesSampled(spark, sf, budget,
      tau = 1.0, seed = 42L))
    val s42b = collect(CorpusOps.mixSourcesSampled(spark, sf, budget,
      tau = 1.0, seed = 42L))
    val s43 = collect(CorpusOps.mixSourcesSampled(spark, sf, budget,
      tau = 1.0, seed = 43L))
    assert(s42a == s42b, "same seed drifted across runs")
    assert(s42a != s43, "different seeds produced the same sample")
    // full in-driver reference: same integer targets as the
    // deterministic mix, per-source prefix of the perturbed-key order
    // (gumbelKey shared with the operator — one definition)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n"), md5(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getString(3)))
    val totals = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val ws = totals.view.mapValues(t => math.sqrt(t.toDouble).toLong).toMap
    val totW = ws.values.sum
    val targets = ws.view.mapValues(w => budget * w / totW).toMap
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(d => (CorpusOps.gumbelKey(d._4, 1.0, 42L, d._1),
          d._4, d._1))
        .toSeq.flatMap { case (id, _, n, _) =>
          val start = cum; cum += n
          if (start < targets(src)) Some((id, src, n)) else None
        }
    }.toSet
    assert(s42a == expected)
    // sampling changes the draw, not the budget: every source is
    // still represented
    assert(s42a.map(_._2) == totals.keySet)
  }

  test("BottomKDistinct == sorted distinct take-k on shuffled multi-partition input") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // repeats + negatives + a hot value, spread over 8 partitions
    val vals = Seq.fill(5000)(rnd.nextLong() % 1000) ++ Seq.fill(200)(42L)
    val got = spark.createDataset(rnd.shuffle(vals)).repartition(8)
      .toDF("h").agg(graft.functions.AggFunctions
        .bottom_k_distinct(col("h"), 64).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(got == vals.distinct.sorted.take(64))
    // k past the distinct count returns the whole distinct set
    val all = spark.createDataset(vals).repartition(8).toDF("h")
      .agg(graft.functions.AggFunctions
        .bottom_k_distinct(col("h"), 1 << 16).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(all == vals.distinct.sorted)
  }

  test("sourceOverlap: planted matrix is non-vacuous; sketch == exact when k covers") {
    val exact = CorpusOps.sourceOverlapQuery(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(exact.nonEmpty)
    assert(exact.values.exists(_._3 > 0L), "no overlap planted — vacuous")
    assert(exact.values.exists(v => v._3 < math.min(v._1, v._2)),
      "every pair fully overlaps — vacuous the other way")
    // sketch with k >= every pair's true union: the KMV estimate IS
    // the exact Jaccard (membership against sketches is never wrong,
    // only truncated)
    val est = CorpusOps.sourceOverlapSketch(spark, sf, k = 4096)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getDouble(2))).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (pair, j) =>
      val (na, nb, c) = exact(pair)
      assert(j == c.toDouble / (na + nb - c).toDouble,
        s"$pair: sketch $j != exact ${c.toDouble / (na + nb - c)}")
    }
  }

  test("sourceOverlapSketch: bounded error when saturated, loud source budget") {
    import spark.implicits._
    // two synthetic sources, |A|=|B|=9000, |A∩B|=3000 → J = 0.2;
    // k=512 saturates both sketches
    val docs = ((0 until 9000).map(i => (i.toLong, "a", s"text $i")) ++
      (0 until 9000).map(i => (i.toLong + 100000, "b", s"text ${i + 6000}")))
    val df = spark.createDataset(docs).toDF("doc_id", "source", "text")
    val j = CorpusOps.sourceOverlapSketchDocs(df, k = 512)
      .collect()(0).getDouble(2)
    assert(math.abs(j - 0.2) < 0.06, s"KMV estimate $j too far from 0.2")
    // the source budget fails loudly: 3 sources > maxSources = 2
    val three = spark.createDataset(docs :+ (999999L, "c", "only one"))
      .toDF("doc_id", "source", "text")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.sourceOverlapSketchDocs(three, k = 512, maxSources = 2)
        .collect()
    }
    assert(e.getMessage.contains("exceed maxSources"))
  }

  test("packing plan has no unpartitioned window, novelty df is partial-agged") {
    val packPlan = CorpusOps.packSequences(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!packPlan.contains("Window"),
      s"packing must not use a window operator:\n$packPlan")
    val novPlan = CorpusOps.textNovelty(spark, sf)
      .queryExecution.executedPlan.toString
    // the df computation must be a groupBy with map-side combine —
    // NEVER a window partitioned by shingle, which puts every posting
    // of a hot stop-shingle on one task with no partial aggregation
    assert(!novPlan.contains("Window"),
      s"novelty df regressed to a shingle-partitioned window:\n$novPlan")
    assert(novPlan.contains("partial_count") ||
      novPlan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"novelty shingle df not partially aggregated:\n$novPlan")
  }

  test("topNgramsApprox fails loudly when the candidate union exceeds its budget") {
    // The guard can only trip when the union across partitions exceeds
    // the budget (a single partition's summary is ≤ capacity ≤
    // maxCandidates by construction), so build the many-partition
    // regime the 100 TB scan hits: 8 docs in 8 separate parquet files,
    // each doc carrying its own 2 heavy disjoint trigrams, read with a
    // tiny split size so every file is its own partition. Each
    // partition's MG summary is its doc's 2 grams → union = 16 > 2.
    import spark.implicits._
    val dir = TestDirs.create("mgbudget").toString
    (0 until 8).map { i =>
      (i.toLong, "s", Array.fill(12)(s"a$i b$i").mkString(" "))
    }.toDF("doc_id", "source", "text")
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oc = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val e = intercept[IllegalArgumentException] {
        CorpusOps.topNgramsApprox(spark, dir, k = 2, capacity = 2,
          maxCandidates = 2)
      }
      assert(e.getMessage.contains("maxCandidates"),
        s"wrong failure: ${e.getMessage}")
      // and the same shape SUCCEEDS with an adequate budget — the
      // guard is a budget check, not a ban on multi-partition unions
      val ok = CorpusOps.topNgramsApprox(spark, dir, k = 2, capacity = 2,
        maxCandidates = 1000).collect()
      assert(ok.length == 2 && ok.forall(_.getLong(1) >= 11L),
        s"recount wrong under the multi-partition union: ${ok.toSeq}")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
      spark.conf.set("spark.sql.files.openCostInBytes", oc)
    }
  }

  test("vocabGrowth matches the in-driver first-sighting curve") {
    val sf = "/root/testdata/sf0.001"
    val step = 10L
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> CorpusOps.duckTokens(r.getString(1)))
      .sortBy(_._1)
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    docs.foreach { case (id, tk) =>
      tk.foreach(w => if (!firstSeen.contains(w)) firstSeen(w) = id)
    }
    val buckets = docs.map(_._1 / step).distinct.sorted
    var cumT = 0L
    var cumV = 0L
    val expected = buckets.map { b =>
      val toks = docs.filter(_._1 / step == b).map(_._2.length.toLong).sum
      val nw = firstSeen.values.count(_ / step == b).toLong
      cumT += toks
      cumV += nw
      ((b + 1) * step, cumT, nw, cumV)
    }.toSeq
    val got = CorpusOps.vocabGrowth(spark, sf, step).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // the curve ends at the exact corpus totals and never decreases
    assert(got.last._2 == docs.map(_._2.length.toLong).sum)
    assert(got.last._4 == firstSeen.size.toLong)
    assert(got.map(_._4) == got.map(_._4).sorted)
  }

  test("corpusDiversity equals exact in-driver distinct-n counts, " +
      "ratio bit-exact") {
    val raw = graft.Tables.documents(spark, sf)
      .select(col("text")).collect().map(_.getString(0))
    def toks(t: String) = t.trim.split("\\s+")
    val expected = Seq(1, 2, 3).map { n =>
      val total = raw.map(t => math.max(toks(t).length - n + 1, 0).toLong).sum
      val distinct = raw.flatMap { t =>
        val tk = toks(t)
        if (tk.length < n) Seq.empty
        else (0 to tk.length - n).map(i => tk.slice(i, i + n).mkString(" "))
      }.toSet.size.toLong
      (n, total, distinct, distinct.toDouble / total.toDouble)
    }
    val got = CorpusOps.corpusDiversity(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // sanity: types ≤ occurrences, ratio rises with n on natural text
    got.foreach { case (_, tot, dis, ratio) =>
      assert(dis <= tot && ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("domainLineDedup: per-domain df decides; the same line survives " +
      "on a low-df domain and a globally-frequent line survives everywhere") {
    // a.com has 4 docs sharing "nav" (site chrome — dropped there);
    // b.com carries the IDENTICAL "nav" line once (kept — its own
    // domain's df is 1); "promo" sits in 4 docs across 4 DIFFERENT
    // domains (global df 4 ≥ minDf, per-domain df 1 — kept, the exact
    // line global lineDedup drops); doc 8 is all-chrome (membership
    // preserved, empty clean_text).
    val docs = Seq(
      (0L, "a.com", "nav\nu zero"),
      (1L, "a.com", "nav\nu one"),
      (2L, "a.com", "nav\nu two"),
      (3L, "b.com", "nav\nu three"),
      (4L, "c.com", "promo\nu four"),
      (5L, "d.com", "promo\nu five"),
      (6L, "e.com", "promo\nu six"),
      (7L, "f.com", "promo\nu seven"),
      (8L, "a.com", "nav")).toDF("doc_id", "domain", "text")
    val got = CorpusOps.domainLineDedup(docs, minDf = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == (("u zero", 1L, 1L)))
    assert(got(1L) == (("u one", 1L, 1L)))
    assert(got(2L) == (("u two", 1L, 1L)))
    assert(got(3L) == (("nav\nu three", 2L, 0L)),
      "identical line on a low-df domain must survive")
    assert(got(4L) == (("promo\nu four", 2L, 0L)),
      "globally-frequent but domain-scattered line must survive")
    assert(got(8L) == (("", 0L, 1L)), "emptied doc must stay, empty")
    assert(got.size == 9)
    // the semantic contrast is real: GLOBAL lineDedup at the same
    // minDf drops both nav (df 5) and promo (df 4) everywhere
    val global = CorpusOps.lineDedup(
        docs.select(col("doc_id"), col("text")), minDf = 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(global(3L) == "u three")
    assert(global(4L) == "u four")
  }

  test("domain_line_dedup registered fixture equals the in-driver " +
      "reference and exercises both frontier sides") {
    val got = CorpusOps.domainLineDedupQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    // rebuild the planted fixture in the driver from the raw table
    val raw = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def hostOf(id: Long): String = (id % 10) match {
      case 0 | 1 => "news.example.com"
      case 2     => "cdn.news.example.com"
      case 3     => "blog.example.org"
      case 4     => "static.blog.example.org"
      case 5     => "tracker.adsite.biz"
      case 6     => "mirror.badcontent.co.uk"
      case _     => s"site${id % 23}.net"
    }
    def domainOf(id: Long): String = {
      val h = hostOf(id)
      val two = h.split('.').takeRight(2).mkString(".")
      if (h.endsWith(".co.uk")) h.split('.').takeRight(3).mkString(".")
      else two
    }
    val planted = raw.map { case (id, t) =>
      val dom = domainOf(id)
      (id, dom,
        s"nav $dom\n$t\npromo ${id % 97}\nftr $dom")
    }
    val df = planted.flatMap { case (id, dom, t) =>
        t.split("\n", -1).distinct.map(l => (dom, l) -> id)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val expected = planted.map { case (id, dom, t) =>
      val ls = t.split("\n", -1)
      val kept = ls.filter(l => df((dom, l)) < 3)
      (id, dom, kept.mkString("\n"), kept.length.toLong,
        (ls.length - kept.length).toLong)
    }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    // both sides fire: every nav/ftr dropped somewhere, and at least
    // one promo line with GLOBAL df ≥ 3 survives (the per-domain
    // semantic, not vacuously equal to global line dedup)
    assert(expected.exists(_._5 > 0), "no dropped line — vacuous")
    val promoGlobalDf = planted.flatMap { case (id, _, t) =>
      t.split("\n", -1).distinct.filter(_.startsWith("promo "))
        .map(_ -> id)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val survivedFrequentPromo = planted.exists { case (id, dom, t) =>
      t.split("\n", -1).exists(l => l.startsWith("promo ") &&
        promoGlobalDf(l) >= 3 && df((dom, l)) < 3)
    }
    assert(survivedFrequentPromo,
      "fixture never exercises the per-domain vs global contrast")
  }
}

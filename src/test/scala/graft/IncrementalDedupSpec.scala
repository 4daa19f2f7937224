package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IncrementalDedup, MinHashDedup}

class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact screen verdicts match brute force on planted dups") {
    val shared = "the quick brown fox jumps over the lazy dog again"
    val old = docsDf(Seq(
      1L -> shared,
      2L -> "completely unrelated old document number two",
      3L -> shared, // older dup of the same fp -> ref must be 1
      4L -> "   the quick brown fox jumps over the lazy dog again  "
    )) // 4 canonicalizes to the same fp as 1/3 (whitespace collapse)
    val fresh = docsDf(Seq(
      10L -> shared, // dup of min(1,3,4)=1
      11L -> "a genuinely novel increment document",
      12L -> "completely unrelated old document number two" // dup of 2
    ))
    val got = IncrementalDedup
      .screenExactDocs(fresh, IncrementalDedup.buildIndex(old))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq
    assert(got == Seq((10L, 1, 1L), (11L, 0, -1L), (12L, 1, 2L)))
  }

  test("near screen == monolithic minhashPairs restricted to straddling pairs") {
    // The equivalence contract: split the sf corpus old/new, screen
    // the increment against the old-half index, and the result must
    // be exactly the monolithic pair list restricted to pairs with
    // one doc on each side of the split — same pairs, same estimates.
    val mono = MinHashDedup.minhashPairs(spark, sf, minEst = 0.5)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, e) =>
        if (a % 5 == 0) (a, b, e) else (b, a, e) } // (new, old, est)
      .toSet
    val inc = IncrementalDedup.incrementalNear(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(inc == mono, s"inc-only=${inc -- mono} mono-only=${mono -- inc}")
    assert(inc.nonEmpty, "sf corpus should produce straddling near-dups")
  }

  test("verified near screen == monolithic exact jaccard on straddling pairs") {
    // The D17 contract: candidates from the wider est band
    // (threshold - 0.2), each verified by the exact sorted-key
    // jaccard — output must equal minhashPairs' exact-verified pair
    // list (same band) filtered at the threshold and restricted to
    // straddling pairs, est AND exact jaccard bit-identical.
    val mono = MinHashDedup.minhashPairs(spark, sf, minEst = 0.3)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .filter { case (a, b, _, _) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b, e, j) =>
        if (a % 5 == 0) (a, b, e, j) else (b, a, e, j) } // (new, old, ...)
      .toSet
    val inc = IncrementalDedup.incrementalNearVerified(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(inc == mono, s"inc-only=${inc -- mono} mono-only=${mono -- inc}")
    assert(inc.nonEmpty, "sf corpus should produce verified straddling pairs")
  }

  test("verify tail rejects an estimate-flagged pair below the exact threshold") {
    // Planted: new doc 10 is a true near-dup of old doc 1 (exact
    // jaccard > 0.5); new doc 11 shares a prefix with old doc 2 —
    // enough shingles for the estimate band to flag it, but its exact
    // jaccard sits below the threshold, so the verify tail must
    // reject it. Candidates are given directly so the test pins the
    // TAIL, independent of LSH banding luck.
    val old = docsDf(Seq(
      1L -> "a b c d e f g h i j k l m n o p",
      2L -> "q r s t u v w x y z aa bb cc dd ee ff"))
    val fresh = docsDf(Seq(
      10L -> "a b c d e f g h i j k l m n o ZZ",
      11L -> "q r s t u v w YY XX WW VV UU TT SS RR QQ"))
    import spark.implicits._
    val cand = Seq((10L, 1L, 0.9), (11L, 2L, 0.4))
      .toDF("doc_id", "ref_id", "est_jaccard")
    val got = IncrementalDedup.verifyNearPairs(cand, fresh, old, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((10L, 1L)),
      s"tail should keep only the true near-dup: $got")
    // sanity: the rejected pair DID share shingles (jaccard > 0, just
    // below threshold), so the rejection is the exact verify working
    val loose = IncrementalDedup.verifyNearPairs(cand, fresh, old, 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((10L, 1L), (11L, 2L)))
  }

  test("persisted index round-trips bit-exactly through parquet") {
    val dir = TestDirs.create("graft_inc_idx").toString
    val old = IncrementalDedup.oldDocs(spark, sf)
    val fresh = IncrementalDedup.newDocs(spark, sf)
    IncrementalDedup.saveIndex(old, dir)
    val loaded = IncrementalDedup.loadIndex(spark, dir)
    val mem = IncrementalDedup.buildIndex(old)

    def exactOf(ix: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.screenExactDocs(fresh, ix).collect()
        .map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    def nearOf(ix: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.screenNearDocs(fresh, ix).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(exactOf(loaded) == exactOf(mem))
    assert(nearOf(loaded) == nearOf(mem))
  }

  test("appendIndex == full rebuild for every screen (the daily loop)") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.documents(spark, sf)
    val day0 = all.filter(col("doc_id") % 5 === 1 ||
      col("doc_id") % 5 === 2)
    val day1 = all.filter(col("doc_id") % 5 === 4)
    val probe = all.filter(col("doc_id") % 5 === 0) // tomorrow's batch
    val dir = TestDirs.create("graft_append_idx").toString
    IncrementalDedup.saveIndex(day0, dir)
    IncrementalDedup.appendIndex(day1, dir)
    val appended = IncrementalDedup.loadIndex(spark, dir)
    val rebuilt = IncrementalDedup.buildIndex(day0.unionByName(day1))

    def exactOf(ix: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.screenExactDocs(probe, ix).collect()
        .map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    def nearOf(ix: org.apache.spark.sql.DataFrame) =
      IncrementalDedup.screenNearDocs(probe, ix).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(exactOf(appended) == exactOf(rebuilt))
    assert(nearOf(appended) == nearOf(rebuilt))
    assert(appended.count() == rebuilt.count())
  }

  test("loadIndex refuses a table without the index schema") {
    val dir = TestDirs.create("graft_bad_idx").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("doc_id", "text").write
      .mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.loadIndex(spark, dir)
    }
    assert(e.getMessage.contains("not an IncrementalDedup index"))
  }

  test("shingle-less increment docs are exact-screened but carry no near identity") {
    val old = docsDf(Seq(
      1L -> "one two three four five six seven eight",
      2L -> "hi"))
    val fresh = docsDf(Seq(10L -> "hi", 11L -> "yo"))
    val ex = IncrementalDedup
      .screenExactDocs(fresh, IncrementalDedup.buildIndex(old))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(ex == Seq((10L, 1), (11L, 0))) // exact identity still works
    val near = IncrementalDedup
      .screenNearDocs(fresh, IncrementalDedup.buildIndex(old))
    assert(near.count() == 0) // no shingles -> no (meaningless) pairs
  }

  test("null-text docs are invisible to the index and both screens") {
    // one bad crawl record must not crash the day's screen (the r18
    // contract: null text = the doc does not exist — buildIndex and
    // screenNearDocs both exclude it before the typed banding, whose
    // Int n_sh deserialization dies on null)
    val spark2 = spark
    import spark2.implicits._
    val old = Seq(1L -> "one two three four five six seven eight",
      2L -> "totally different words here nine ten eleven twelve")
      .toDF("doc_id", "text")
    val oldNulled = old.union(
      Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val fresh = Seq(10L -> "one two three four five six seven eight")
      .toDF("doc_id", "text")
    val freshNulled = fresh.union(
      Seq((11L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val ix = IncrementalDedup.buildIndex(oldNulled)
    assert(ix.count() == 2) // the null row never enters the index
    val near = IncrementalDedup.screenNearDocs(freshNulled, ix)
      .collect()
    assert(near.map(_.getLong(0)).toSet == Set(10L)) // 11 invisible
    // the exact screen emits NO verdict row for the null doc — an
    // is_dup = 0 row here would admit it as "novel" while the index
    // and near screen say it does not exist (and, absent from the
    // index, it would re-screen as novel every day)
    val ex = IncrementalDedup.screenExactDocs(freshNulled, ix)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(ex == Map(10L -> 1))
  }

  test("registered queries are well-formed and non-degenerate at sf") {
    val build = IncrementalDedup.indexBuildQuery(spark, sf)
    assert(build.columns.toSeq == Seq("doc_id", "fp", "n_sh"))
    val nOld = build.count()
    assert(nOld > 0)
    val ex = IncrementalDedup.incrementalExact(spark, sf)
    assert(ex.columns.toSeq == Seq("doc_id", "is_dup", "ref_id"))
    // one verdict row per increment doc, no fan-out
    assert(ex.count() ==
      IncrementalDedup.newDocs(spark, sf).count())
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextOps}

class TextDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("token counts are positive and bpe >= ws tokens for clean text") {
    val df = TextOps.textTokens(spark, sf)
    assert(df.filter(col("n_tokens") <= 0).count() == 0)
    assert(df.filter(col("n_bpe_tokens") < col("n_tokens")).count() == 0)
  }

  test("langid predicts a known language code") {
    val preds = TextOps.textLangId(spark, sf)
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "es", "fr", "und")))
  }

  test("quality score is within [0,1]") {
    val df = TextOps.textQuality(spark, sf)
    assert(df.filter(col("quality") < 0 || col("quality") > 1).count() == 0)
  }

  test("fingerprint is stable across identical normalized text") {
    val df = TextOps.textFingerprint(spark, sf)
    assert(df.select("fp").distinct().count() <= df.count())
    assert(df.filter(length(col("fp")) =!= 32).count() == 0)
  }

  test("dedup_exact canonical ids are minimal per group") {
    val df = Dedup.dedupExact(spark, sf)
    assert(df.filter(col("canonical_id") > col("doc_id")).count() == 0)
  }

  test("contamination screen refuses threshold <= 0 (semantics guard)") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.screenDocs(spark.range(1).selectExpr("id as doc_id",
        "'a b c d' as text"), threshold = 0.0)
    }
    assert(ex.getMessage.contains("threshold must be > 0"))
  }

  test("contamination screen fails loudly on a >= 2^20-shingle doc") {
    import spark.implicits._
    // (1 << 20) + 2 distinct words -> exactly 2^20 distinct 3-gram
    // shingles: one past the pack's 20-bit count budget.
    val n = (1 << 20) + 2
    val sb = new StringBuilder(n * 9)
    var i = 0
    while (i < n) { sb.append('w').append(i).append(' '); i += 1 }
    val docs = Seq((0L, sb.toString), (7L, "w1 w2 w3 w4"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.screenDocs(docs, threshold = 0.05).collect()
    }
    assert(causeChain(ex).exists(_.contains("packed posting would overflow")),
      s"expected loud overflow failure, got: ${ex.getMessage}")
  }

  test("contamination screen fails loudly on doc_id outside [0, 2^43)") {
    import spark.implicits._
    val docs = Seq((1L << 43, "a b c d e"), (0L, "a b c d e"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.screenDocs(docs, threshold = 0.05).collect()
    }
    assert(causeChain(ex).exists(_.contains("packed posting would overflow")),
      s"expected loud overflow failure, got: ${ex.getMessage}")
  }

  private def causeChain(t: Throwable): List[String] =
    Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toList

  test("indexed and join screen shapes produce identical pairs") {
    // same corpus, same threshold/cap: the driver-indexed flatMap
    // shape must be row-for-row equal to the broadcast-join + count
    // aggregation (doubles exact — both compute inter/(nD+nR-inter)
    // from the same ints)
    val docs = graft.Tables.documents(spark, sf)
    val a = Dedup.screenDocsIndexed(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = Dedup.screenDocsJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("indexed screen fails loudly past the pack budget too") {
    import spark.implicits._
    val docs = Seq((1L << 43, "a b c d e"), (0L, "a b c d e"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.screenDocsIndexed(docs, threshold = 0.05).collect()
    }
    assert(causeChain(ex).exists(_.contains("packed posting would overflow")),
      s"expected loud overflow failure, got: ${ex.getMessage}")
  }

  test("indexed screen refuses references past the postings budget BEFORE collecting") {
    import spark.implicits._
    // refMod=1: every doc is a reference; 5 shingleable docs blow a
    // budget of 2 postings. The failure must be the loud budget
    // message (raised before the driver collect), not an OOM.
    val docs = (0L until 5L).map(i =>
      (i, s"tok${i}a tok${i}b alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.screenDocsIndexed(docs, threshold = 0.05, refMod = 1,
        maxPostings = 2L).collect()
    }
    assert(causeChain(ex).exists(_.contains("maxPostings")),
      s"expected the postings-budget failure, got: ${ex.getMessage}")
  }

  test("cross-block jaccard recalls the blocked verifier's near-dup pairs") {
    // the blocked verifier restricted to the LSH regime (j >= 0.5)
    val blocked = Dedup.jaccardPairs(spark, sf, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossBlock = Dedup.jaccardPairsLsh(spark, sf, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.nonEmpty, "test corpus lost its planted near-dups")
    val recalled = blocked.count(crossBlock.contains).toDouble / blocked.size
    assert(recalled >= 0.9, s"cross-block recall $recalled < 0.9")
    // values are EXACT jaccard, so any pair present in both agrees
    val bj = Dedup.jaccardPairs(spark, sf, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Dedup.jaccardPairsLsh(spark, sf, threshold = 0.5).collect()
      .foreach { r =>
        bj.get((r.getLong(0), r.getLong(1))).foreach { v =>
          assert(math.abs(v - r.getDouble(2)) < 1e-12)
        }
      }
  }

  test("lshParamsFor centers the banding S-curve on the requested threshold") {
    def sCurve(t: Double, k: Int, b: Int): Double = {
      val r = k / b
      1.0 - math.pow(1.0 - math.pow(t, r), b)
    }
    // t=0.5 keeps the historical default — measured recall numbers
    // (0.998 at j>=0.5, RECALL_r11) stay attached to this shape
    assert(Dedup.lshParamsFor(0.5) == ((32, 16)))
    // t=0.3: the r11 gap case — the auto shape must clear 0.95 AT the
    // threshold where the pinned default sat at 0.779
    assert(Dedup.lshParamsFor(0.3) == ((64, 32)))
    assert(sCurve(0.3, 32, 16) < 0.8)
    // every auto shape clears the target at its own threshold, with
    // bands dividing k (the minhashPairs slicing contract)
    Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95).foreach { t =>
      val (k, b) = Dedup.lshParamsFor(t)
      assert(k % b == 0, s"t=$t: bands $b do not divide k $k")
      assert(sCurve(t, k, b) >= 0.95,
        s"t=$t: S-curve ${sCurve(t, k, b)} below target at ($k, $b)")
    }
    // high thresholds buy SELECTIVITY (longer bands), not just recall
    val (k7, b7) = Dedup.lshParamsFor(0.7)
    assert(k7 / b7 >= 4, s"t=0.7 rows-per-band ${k7 / b7} < 4")
  }

  test("auto-scaled LSH at t=0.3 recalls the blocked verifier's weak pairs") {
    // the regime the fixed 16×2 banding under-recalled: pairs in
    // [0.3, 0.5) from the blocked exact verifier must now surface
    // through the auto-picked cross-block shape
    val blocked = Dedup.jaccardPairs(spark, sf, threshold = 0.3)
      .filter(col("jaccard") < 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.jaccardPairsLsh(spark, sf, threshold = 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (blocked.nonEmpty) {
      val recalled = blocked.count(auto.contains).toDouble / blocked.size
      assert(recalled >= 0.9,
        s"auto-shape recall $recalled < 0.9 on ${blocked.size} weak pairs")
    }
  }

  test("jaccard pairs are symmetric-free, thresholded, in [0,1]") {
    val df = Dedup.jaccardPairs(spark, sf, 0.02)
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("jaccard") < 0.02 || col("jaccard") > 1.0).count() == 0)
  }

  test("df ceiling drops hot-shingle buckets and bounds pair count") {
    // plant a corpus where one 3-gram shingle is shared by ALL docs
    // (a boilerplate header): without the maxDf cap this forms one
    // quadratic bucket; with it, only the genuinely-shared pairs with
    // df <= cap survive.
    import spark.implicits._
    val tmp = TestDirs.create("hotshingle").toString
    val hot = "common boilerplate header"
    val docs = (0L until 200L).map { i =>
      // each doc: the hot shingle + a unique tail; docs 0 and 1 also
      // share a private shingle pair so one real dup pair remains
      val tail = if (i < 2) "shared private trigram here" else s"unique tail $i words ${i * 7}"
      (i, s"$hot $tail", "en", "src0", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.jaccardPairs(spark, tmp, threshold = 0.0, maxDf = 50)
    // the hot shingle's bucket (df=200 > 50) is dropped, so the
    // 200*199/2 all-pairs explosion never happens; docs 0/1 still
    // pair via their private shingles
    val n = pairs.count()
    assert(n < 200L * 199 / 2, s"pair count $n not bounded by df cap")
    assert(pairs.filter(col("doc_a") === 0 && col("doc_b") === 1).count() == 1)
  }

  test("substring pairs match an exact in-driver window computation") {
    val sf = "/root/testdata/sf0.001"
    val w = 8
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val windowsOf: Map[Long, Set[String]] = docs.map { case (id, t) =>
      val trimmed = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = trimmed.split("\\s+", -1)
      id -> toks.sliding(w).filter(_.length == w)
        .map(_.mkString(" ")).toSet
    }.toMap
    val df = windowsOf.values.flatten
      .groupBy(identity).map { case (win, o) => win -> o.size }
    val kept = windowsOf.map { case (id, ws) =>
      id -> ws.filter(x => df(x) >= 2 && df(x) <= 100)
    }
    val ids = kept.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = (kept(a) & kept(b)).size if shared >= 1
    } yield (a, b, shared.toLong)).toSet
    val got = Dedup.substringPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "no verbatim 8-token overlap in corpus — vacuous")
  }

  test("screen_ngram_overlap flags exactly the docs sharing a 13-gram with a ref") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand corpus: refs are % 7 == 0. doc 3 embeds ref 0's middle 13
    // tokens verbatim; doc 4 shares only 12 consecutive tokens (below
    // the window); doc 5 is disjoint.
    val refText = (0 until 20).map(i => s"r$i").mkString(" ")
    val steal13 = (2 until 15).map(i => s"r$i").mkString(" ")
    val steal12 = (2 until 14).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, refText),
      (3L, s"alpha beta $steal13 gamma"),
      (4L, s"alpha beta $steal12 gamma delta epsilon"),
      (5L, (0 until 20).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.screenNgramOverlap(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 3's distinct 13-grams include exactly TWO windows fully
    // inside ref 0's token stream? No: its windows mixing alpha/beta/
    // gamma differ; the stolen run r2..r14 is 13 tokens = exactly one
    // window, and ref 0 contains it (r2..r14 ⊂ r0..r19)
    assert(got == Map(3L -> 1L), s"got $got")

    // the reference-gram driver collect is budget-guarded and fails
    // LOUDLY past maxRefGrams (ref 0 has 8 distinct 13-grams > 2) —
    // a mis-specified reference subset must not OOM an executor or
    // the driver before the guard names the budget
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.screenNgramOverlap(docs, maxRefGrams = 2)
    }
    assert(e.getMessage.contains("maxRefGrams"), e.getMessage)

    val sf = "/root/testdata/sf0.001"
    val flagged = graft.operators.Dedup
      .screenNgramOverlapQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flagged.nonEmpty, "planted phrase flagged nothing — vacuous")
    // full in-driver reference over the same planted corpus: natural
    // overlaps exist too (exact-duplicate docs share every window),
    // so expected = exact distinct-gram overlap counts, not just the
    // planted ids
    val phrase = (0 until 13).map(i => s"ev$i").mkString(" ")
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        if (r.getLong(0) % 11 == 3) r.getString(1) + " " + phrase
        else r.getString(1)))
    def windows(t: String): Set[String] = {
      val tk = t.trim.split("\\s+")
      if (tk.length < 13) Set.empty
      else (0 to tk.length - 13).map(i =>
        tk.slice(i, i + 13).mkString(" ")).toSet
    }
    val refSet = planted.filter(_._1 % 7 == 0)
      .flatMap(p => windows(p._2)).toSet
    val expected = planted.filter(_._1 % 7 != 0).flatMap { case (id, t) =>
      val ov = windows(t).count(refSet)
      if (ov > 0) Some(id -> ov.toLong) else None
    }.toMap
    assert(flagged == expected)
    // the plant is doing its job: every planted non-ref with >= 13
    // tokens is among the flagged
    val plantedIds = planted.filter(p => p._1 % 11 == 3 && p._1 % 7 != 0)
      .filter(p => windows(p._2).nonEmpty).map(_._1).toSet
    assert(plantedIds.subsetOf(flagged.keySet))
  }

  test("screen_ngram_bloom == exact screen at size; one-sided superset undersized") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val exact = graft.operators.Dedup
      .screenNgramOverlapQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact.nonEmpty)
    // registered size: zero false positives in practice (deterministic
    // hashing — if this holds once it holds always), so the Bloom
    // screen reproduces the exact screen bit-for-bit and shares its
    // oracle hash row
    val bloom = graft.operators.Dedup
      .screenNgramBloomQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(bloom == exact)
    // deliberately undersized filter (1024 bits for ~13k ref grams):
    // the one-sided guarantee must survive — every exact flag is
    // still flagged with at-least-equal counts — and false positives
    // must genuinely fire, or the degraded case is vacuous
    val phrase = (0 until 13).map(i => s"ev$i").mkString(" ")
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 3,
          concat(col("text"), lit(" " + phrase)))
          .otherwise(col("text")).as("text"))
    val tiny = graft.operators.Dedup
      .screenNgramBloom(planted, mBits = 1 << 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    exact.foreach { case (id, n) =>
      assert(tiny.contains(id) && tiny(id) >= n,
        s"false negative at doc $id: exact=$n tiny=${tiny.get(id)}")
    }
    assert(tiny.size > exact.size,
      "undersized filter produced no false positives — vacuous case")
  }

  test("dedup_exact_bloom == exact fp semi-join at size; one-sided undersized") {
    val sf = "/root/testdata/sf0.001"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def canonFp(t: String): String =
      md5hex(t.trim.replaceAll("\\s+", " "))
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val refFps = texts.filter(_._1 % 7 == 0).values
      .map(canonFp).toSet
    val probe = texts.filter(_._1 % 7 != 0).map { case (id, t) =>
      id -> (if (id % 11 == 4) texts((id / 7) * 7) else t) }
    val expected = probe
      .filter { case (_, t) => refFps(canonFp(t)) }
      .map { case (id, t) => (id, canonFp(t)) }.toSet
    assert(expected.nonEmpty)
    // the flags are exactly the planted duplicates — no accidental
    // fingerprint collisions in the raw corpus
    assert(expected.map(_._1) == probe.keySet.filter(_ % 11 == 4))
    val got = graft.operators.Dedup.dedupExactBloomQuery(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    // deliberately undersized filter (64 bits for ~72 ref keys):
    // one-sided — every true duplicate still flags — and false
    // positives genuinely fire
    val tiny = graft.operators.Dedup
      .dedupExactBloomQuery(spark, sf, mBits = 64)
      .collect().map(_.getLong(0)).toSet
    assert(expected.forall { case (id, _) => tiny.contains(id) },
      "false negative under the undersized filter")
    assert(tiny.size > expected.size,
      "undersized filter produced no false positives — vacuous case")
  }

  test("wordcount total equals token total") {
    val total = TextOps.wordcount(spark, sf)
      .agg(sum("n")).head().getLong(0)
    val tokens = TextOps.textTokens(spark, sf)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(total == tokens)
  }

  // ---- D20 holdout carve ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refIsEval(seed: String, id: Long, num: Long,
      den: Long): Boolean =
    java.lang.Long.parseLong(
      md5hex(s"$seed:$id").substring(0, 13), 16) * den < num * (1L << 52)

  private def grams13(t: String): Set[String] = {
    val tk = t.trim.split("\\s+")
    if (tk.length < 13) Set.empty
    else (0 to tk.length - 13).map(i =>
      tk.slice(i, i + 13).mkString(" ")).toSet
  }

  /** 200 synthetic docs, unique 15-token soup, the 13-token hv
    * phrase planted on doc_id ≡ 3 (mod 5).
    */
  private def carveFixture = {
    import spark.implicits._
    val phrase = (0 until 13).map(i => s"hv$i").mkString(" ")
    (0L until 200L).map { i =>
      val base = (0 until 15).map(j => s"d${i}t$j").mkString(" ")
      (i, if (i % 5 == 3) s"$base $phrase" else base)
    }.toDF("doc_id", "text")
  }

  test("holdout carve equals the in-driver reference classification " +
      "and every role fires") {
    val docs = carveFixture
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val evalIds = rows.collect {
      case (id, _) if refIsEval("7", id, 1, 10) => id
    }.toSet
    val evalGrams = rows.filter(r => evalIds(r._1))
      .flatMap(r => grams13(r._2)).toSet
    val expected = rows.map { case (id, t) =>
      if (evalIds(id)) (id, "eval", 0L)
      else {
        val hits = grams13(t).count(evalGrams).toLong
        (id, if (hits > 0) "contaminated" else "train", hits)
      }
    }.sortBy(_._1).toSeq
    val got = graft.operators.Dedup.holdoutCarve(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    val roles = expected.groupBy(_._2).view.mapValues(_.size).toMap
    assert(roles.getOrElse("eval", 0) > 0, "no eval doc — vacuous")
    assert(roles.getOrElse("contaminated", 0) > 0,
      "no contaminated doc — the planted phrase never reached the " +
        "holdout; adjust the fixture")
    assert(roles.getOrElse("train", 0) > 0, "no train doc — vacuous")
    // the leak is real: every contaminated doc carries the plant, and
    // at least one PLANTED doc sits in the holdout to leak from
    assert(expected.filter(_._2 == "contaminated")
      .forall(e => e._1 % 5 == 3))
    assert(evalIds.exists(_ % 5 == 3))
  }

  test("bloom carve is identical to the exact carve at the registered " +
      "size and one-sided under a starved filter") {
    val docs = carveFixture
    val exact = graft.operators.Dedup.holdoutCarve(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val bloom = graft.operators.Dedup.holdoutCarveBloom(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(bloom == exact,
      "bloom path must be bit-identical at the registered filter size")
    // 64-bit filter: saturated — but the error is ONE-SIDED: every
    // truly contaminated doc still flags with >= the exact hit count
    val starved = graft.operators.Dedup
      .holdoutCarveBloom(docs, mBits = 64).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val exactBy = exact.map(e => e._1 -> ((e._2, e._3))).toMap
    exactBy.foreach { case (id, (role, hits)) =>
      if (role == "contaminated") {
        assert(starved(id)._1 == "contaminated",
          s"doc $id lost its contamination flag under compression")
        assert(starved(id)._2 >= hits)
      }
      if (role == "eval") assert(starved(id)._1 == "eval")
    }
    // and the starvation genuinely fires false positives (otherwise
    // the one-sidedness assertion was vacuous)
    assert(starved.values.count(_._1 == "contaminated") >
      exact.count(_._2 == "contaminated"))
  }

  test("holdout split is seeded: reproducible under one seed, " +
      "different under another, fraction near num/den") {
    val docs = carveFixture
    def evalSet(seed: String) = graft.operators.Dedup
      .holdoutCarve(docs, seed = seed).collect()
      .collect { case r if r.getString(1) == "eval" => r.getLong(0) }
      .toSet
    val a = evalSet("7")
    val b = evalSet("7")
    val c = evalSet("13")
    assert(a == b, "same seed must reproduce the split bit-for-bit")
    assert(a != c, "different seed must draw a different holdout")
    // md5 is uniform: 200 draws at p=0.1 — double the binomial
    // 4-sigma band as a deterministic sanity bound
    assert(a.size > 2 && a.size < 60, s"eval size ${a.size} implausible")
  }

  test("contamination report equals the in-driver reference and is " +
      "coherent with the carve's contaminated set") {
    val docs = carveFixture
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val evalIds = rows.collect {
      case (id, _) if refIsEval("7", id, 1, 10) => id
    }.toSet
    val evalG = rows.filter(r => evalIds(r._1))
      .map(r => r._1 -> grams13(r._2)).toMap
    // reference pairs: (eval, train, gram) distinct
    val pairs = for {
      (tid, t) <- rows.toSeq if !evalIds(tid)
      tg = grams13(t)
      (eid, eg) <- evalG.toSeq
      g <- (tg intersect eg).toSeq
    } yield (eid, tid, g)
    val expected = pairs.groupBy(_._1).map { case (eid, ps) =>
      (eid, ps.map(_._2).distinct.size.toLong, ps.size.toLong)
    }.toSeq.sortBy(_._1)
    val got = graft.operators.Dedup.contaminationReport(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(expected.nonEmpty, "no leaking eval doc — vacuous")
    // coherence: the union of dirty train docs IS the carve's
    // contaminated set (same split, same gram identity)
    val dirtyTrains = pairs.map(_._2).toSet
    val contaminated = graft.operators.Dedup.holdoutCarve(docs)
      .filter(col("role") === "contaminated").collect()
      .map(_.getLong(0)).toSet
    assert(dirtyTrains == contaminated)
  }

  test("contaminationReportJoin is row-identical to the broadcast " +
      "shape on the fixture and the registered corpus") {
    val docs = carveFixture
    val broadcastShape = graft.operators.Dedup
      .contaminationReport(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val joinShape = graft.operators.Dedup
      .contaminationReportJoin(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(joinShape == broadcastShape)
    assert(broadcastShape.nonEmpty, "vacuous fixture")
    val regBroadcast = graft.operators.Dedup
      .contaminationReportQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val regJoin = graft.operators.Dedup
      .contaminationReportJoinQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(regJoin == regBroadcast)
    // the r17 shared-split checkpoint changes only how many times the
    // split is derived, never the rows (the P1 share-on/off pin)
    val unshared = graft.operators.Dedup
      .contaminationReportJoin(docs, share = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(unshared == broadcastShape)
  }

  test("registered holdout_carve fixture is non-vacuous at sf") {
    val roles = graft.operators.Dedup.holdoutCarveQuery(spark, sf)
      .groupBy(col("role")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roles.getOrElse("eval", 0L) > 0L)
    assert(roles.getOrElse("contaminated", 0L) > 0L,
      "planted phrase never reached the holdout at this sf")
    assert(roles.getOrElse("train", 0L) > 0L)
  }
}

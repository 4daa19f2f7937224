package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Bpe, CorpusOps}

/** T25 corpus-mined BPE: the mine is pinned against hand-computed
  * merges, determinism across runs, encoder invariants, and the
  * packing-by-subwords row against the sequential packer reference.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import scala.language.implicitConversions

  private val sf = "/root/testdata/sf0.001"

  test("trainOn mines the hand-computed merge sequence") {
    // counts: "ab"×3, "abc"×1 → pair (a,b) weight 4 wins round 1;
    // round 2: ("ab","c") weight 1 < 2 → dry, mine stops
    val m1 = Bpe.trainOn(Array(("ab", 3L), ("abc", 1L)), nMerges = 10)
    assert(m1.toSeq == Seq(("a", "b")))

    // "abc"×2 keeps mining: (a,b)=5 wins, then ("ab","c")=2
    val m2 = Bpe.trainOn(Array(("ab", 3L), ("abc", 2L)), nMerges = 10)
    assert(m2.toSeq == Seq(("a", "b"), ("ab", "c")))

    // tie-break: ("aa"×2, "bb"×2) — (a,a) and (b,b) both weight 2;
    // the lexicographically smaller pair wins the first slot
    val m3 = Bpe.trainOn(Array(("aa", 2L), ("bb", 2L)), nMerges = 10)
    assert(m3.toSeq == Seq(("a", "a"), ("b", "b")))

    // left-to-right non-overlapping pair counting: "aaa"×2 counts
    // (a,a) at weight 4 (two positions × two words) and merges to
    // ["aa","a"]; round 2's ("aa","a") has weight 2 and merges too
    val m4 = Bpe.trainOn(Array(("aaa", 2L)), nMerges = 10)
    assert(m4.toSeq == Seq(("a", "a"), ("aa", "a")))
  }

  test("encodeCount applies merges by rank, lowest first") {
    val model = Bpe.BpeModel(Array(("a", "b"), ("ab", "c")))
    assert(model.encodeCount("abc") == 1)   // ab+c → abc
    assert(model.encodeCount("ab") == 1)
    assert(model.encodeCount("ba") == 2)    // no merge applies
    assert(model.encodeCount("abab") == 2)  // ab, ab
    assert(model.encodeCount("xyz") == 3)
    assert(model.encodeCount("") == 0)
    // rank order matters: (b,c) unmined, so "bc" stays two pieces
    assert(model.encodeCount("bc") == 2)
    // multi-code-point safety: astral symbols count once each
    val astral = new String(Character.toChars(0x1F600))
    assert(Bpe.BpeModel(Array.empty).encodeCount(astral + "a") == 2)
  }

  test("bpeTrain is deterministic and guards the word-table collect") {
    val docs = graft.Tables.documents(spark, sf)
    val a = Bpe.bpeTrain(docs, nMerges = 50)
    val b = Bpe.bpeTrain(docs, nMerges = 50)
    assert(a.merges.toSeq == b.merges.toSeq)
    assert(a.merges.nonEmpty, "no merges mined from the corpus")
    val e = intercept[IllegalArgumentException] {
      Bpe.bpeTrain(docs, maxWords = 5)
    }
    assert(e.getMessage.contains("maxWords"))
  }

  test("bpeCounts: 1 <= pieces <= code points per word, fewer than chars overall") {
    val docs = graft.Tables.documents(spark, sf)
    val model = Bpe.bpeTrain(docs, nMerges = 200)
    val ws = graft.functions.TextFunctions.tokenCount(col("text"))
    val joined = Bpe.bpeCounts(docs, model)
      .join(docs.select(col("doc_id"),
        ws.cast("long").as("n_ws"),
        length(col("text")).cast("long").as("n_chars")), Seq("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(joined.nonEmpty)
    joined.foreach { case (id, bpe, nws, nchars) =>
      assert(bpe >= nws, s"doc $id: $bpe subwords < $nws words")
      assert(bpe <= nchars, s"doc $id: $bpe subwords > $nchars chars")
    }
    // the mine actually compresses: corpus-wide subwords are strictly
    // fewer than corpus-wide code points minus whitespace
    val totBpe = joined.map(_._2).sum
    val totChars = joined.map(_._4).sum
    assert(totBpe < totChars,
      s"BPE did not compress: $totBpe pieces vs $totChars chars")
  }

  test("MinedBpeEval memo lives for one task: populated during the " +
      "task, reaped by its completion listener") {
    // the r19 ADVICE finding: executor task threads are pooled and
    // long-lived, so a plain per-thread memo retains up to the full
    // cap per live eval instance until the ThreadLocalMap's lazy
    // expunge — the TaskCompletionListener reap bounds retention to
    // live tasks. Observed via accumulators: the probe listener is
    // registered BEFORE the eval's reap listener, and listeners run
    // LIFO, so the probe fires AFTER the reap and must see 0.
    val sc = spark.sparkContext
    val during = sc.longAccumulator("memoDuring")
    val after = sc.longAccumulator("memoAfter")
    val eval = new graft.operators.MinedBpeEval(
      Array(("a", "b")), memoWords = 1000)
    sc.parallelize(1 to 4, 4).mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      tc.addTaskCompletionListener[Unit] { _ =>
        after.add(eval.memoSize)
      }
      eval.countTokens(org.apache.spark.unsafe.types.UTF8String
        .fromString("abab cd abab"))
      during.add(eval.memoSize)
      it
    }.count()
    assert(during.value > 0,
      "memo never populated inside the tasks — the probe is vacuous")
    assert(after.value == 0,
      s"memo survived task completion: ${after.value} entries across " +
        "4 tasks — the reap listener is not firing last")
  }

  test("bpeCounts memo is invisible: cached == uncached == cap-straddling") {
    val docs = graft.Tables.documents(spark, sf)
    val model = Bpe.bpeTrain(docs, nMerges = 100)
    def run(cap: Int) = Bpe.bpeCounts(docs, model, memoWords = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val cached = run(2000000)
    assert(cached == run(0), "memo off drifted from memo on")
    // a tiny cap exercises the saturated-cache branch mid-stream
    assert(cached == run(3), "saturated memo drifted")
  }

  test("mined_bpe_count kernel equals the driver-side encoder per doc; " +
      "null text counts null") {
    // the r19 kernel change (typed map → codegen'd Catalyst
    // expression) must be value-invisible: per doc, the column equals
    // duckTokens(text).map(encodeCount).sum computed on the driver
    val docs = graft.Tables.documents(spark, sf)
    val model = Bpe.bpeTrain(docs, nMerges = 100)
    val got = Bpe.bpeCounts(docs, model).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty && got.size == texts.length)
    texts.foreach { case (id, t) =>
      val expect = CorpusOps.duckTokens(t)
        .map(model.encodeCount(_).toLong).sum
      assert(got(id) == expect, s"doc $id: ${got(id)} != $expect")
    }
    // null text = the doc does not exist (the r18 null contract):
    // EXCLUDED from the counts frame entirely — the old typed map
    // NPE'd here, and a null n_tokens row would silently read as a
    // ZERO budget in the packer's prefix sum (getLong on a null slot)
    import spark.implicits._
    val nulled = Seq((1L, "ab ab"), (2L, null))
      .toDF("doc_id", "text")
    val rows = Bpe.bpeCounts(nulled, model).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.contains(1L) && !rows.contains(2L),
      s"null-text doc must be invisible, got $rows")
    // the kernel itself keeps null→null for direct column use
    val direct = nulled.select(col("doc_id"),
        Bpe.minedBpeCount(col("text"), model).as("n"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!direct(1L) && direct(2L))
  }

  test("bpeCounts and packSequencesBpe evaluate the kernel once per row") {
    // the KernelEvalAudit convention: Catalyst may duplicate a
    // non-cheap projection into consumers (the Generate-input trap);
    // the packer's window consumes n_tokens — if the alias ever
    // substitutes, the encoder re-runs per reference
    import graft.functions.KernelMetrics
    val docs = graft.Tables.documents(spark, sf)
    val n = docs.count()
    val model = Bpe.bpeTrain(docs, nMerges = 50)
    KernelMetrics.reset(); KernelMetrics.enabled = true
    try {
      Bpe.bpeCounts(docs, model).queryExecution.toRdd.count()
      assert(KernelMetrics.minedBpeEvals.sum() == n,
        s"bpeCounts ran the encoder ${KernelMetrics.minedBpeEvals.sum()}" +
          s" times for $n rows")
      KernelMetrics.reset()
      graft.operators.CorpusOps.packSequencesCounted(
        Bpe.bpeCounts(docs, model), 512L).queryExecution.toRdd.count()
      // exactly 2n THROUGH THE PACKER, pinned: the prefix sum's
      // global sort evaluates its child twice — once in the range
      // exchange's key-sampling pass, once in the shuffle-map pass
      // (the second prefix-sum job reuses the shuffle files, so it
      // adds nothing). The typed-map predecessor paid the identical
      // 2× invisibly; the counter makes it a pinned property. The
      // 100 TB trade is deliberate: the alternative (sort raw docs,
      // count after the exchange) would put TEXT on the wire instead
      // of re-running a memoized counting kernel on the scan side.
      // 3n or n here means the sort/sampling shape changed — re-audit.
      assert(KernelMetrics.minedBpeEvals.sum() == 2 * n,
        s"packSequencesBpe ran the encoder " +
          s"${KernelMetrics.minedBpeEvals.sum()} times for $n rows " +
          "(expected exactly 2n: sampling + shuffle-map passes)")
    } finally { KernelMetrics.enabled = false; KernelMetrics.reset() }
  }

  test("packSequencesBpe bins follow the sequential packer over BPE counts") {
    val out = Bpe.packSequencesBpe(spark, sf, targetTokens = 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    var cum = 0L
    out.sortBy(_._1).foreach { case (id, n, bin) =>
      assert(bin == cum / 512L, s"doc $id bin $bin != ${cum / 512L}")
      cum += n
    }
    // and the counts really are the model's counts, not whitespace
    val docs = graft.Tables.documents(spark, sf)
    val model = Bpe.bpeTrain(docs, 200)
    val expect = Bpe.bpeCounts(docs, model).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, n, _) => assert(n == expect(id)) }
  }

  test("saveModel/loadModel round-trip the tokenizer byte-for-byte") {
    val docs = graft.Tables.documents(spark, sf)
    val model = Bpe.bpeTrain(docs, nMerges = 60)
    val dir = TestDirs.create("graft_bpe").toFile
    try {
      val path = s"$dir/merges.parquet"
      Bpe.saveModel(model, path, spark)
      val loaded = Bpe.loadModel(spark, path)
      assert(loaded.merges.toSeq == model.merges.toSeq)
      // same tokenizer: identical counts on a word sample
      Seq("the", "table", "scanned", "xyzzy").foreach { w =>
        assert(loaded.encodeCount(w) == model.encodeCount(w))
      }
      // a truncated/reordered table refuses to load
      import spark.implicits._
      spark.createDataset(Seq((0, "a", "b"), (2, "c", "d")))
        .toDF("rank", "left", "right")
        .write.mode("overwrite").parquet(path)
      val e = intercept[IllegalArgumentException] {
        Bpe.loadModel(spark, path)
      }
      assert(e.getMessage.contains("dense"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("counted cores accept the BPE counter (mix + dsir threading)") {
    val docs = graft.Tables.documents(spark, sf)
    val model = Bpe.bpeTrain(docs, 200)
    val counts = Bpe.bpeCounts(docs, model).localCheckpoint(true)
    // mix: per-source budgets from subword totals — offset rule holds
    val d = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .join(counts.withColumnRenamed("n_tokens", "n"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n"), col("h"))
    val mixed = CorpusOps.mixSourcesCounted(d, budgetTokens = 20000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(mixed.nonEmpty && mixed.length < docs.count())
    val cmap = counts.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    mixed.foreach { case (id, _, n) => assert(n == cmap(id)) }
    // dsir: selection under subword budgets stays a budget prefix
    val w = graft.operators.Search.dsirWeights(spark, sf)
      .localCheckpoint(true)
    val sel = graft.operators.Search
      .dsirSelectFromWeightsCounted(counts, w, budgetTokens = 20000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sel.nonEmpty)
    sel.foreach { case (id, n, _) => assert(n == cmap(id)) }
    // offset rule: ranked by (logw desc, id), every selected doc's
    // token range starts inside the budget
    val wmap = w.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ranked = wmap.toSeq.sortBy { case (id, lw) => (-lw, id) }
    var cum = 0L
    val expectSel = ranked.flatMap { case (id, _) =>
      val start = cum; cum += cmap(id)
      if (start < 20000L) Some(id) else None
    }.toSet
    assert(sel.map(_._1).toSet == expectSel)
  }
}

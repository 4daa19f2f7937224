package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Classify, CorpusOps}
import graft.functions.CentroidKernels.dec12Scaled

/** T27 Naive Bayes against a bit-exact in-driver reference (scores
  * AND argmax predictions — the decision is an exact integer
  * comparison, so any distributed drift is a strict mismatch), plus
  * planted-class recovery and the documented tie-break.
  */
class NbSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def docs: Array[(Long, String, Array[String])] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        CorpusOps.duckTokens(r.getString(2))))

  private def model: (Array[(Long, String, Array[String])],
      Map[(String, String), Long]) = {
    val ds = docs
    val cls = scala.collection.mutable.Map[(String, String), Long]()
    ds.foreach { case (_, lang, tk) =>
      tk.foreach(w => cls((lang, w)) = cls.getOrElse((lang, w), 0L) + 1L)
    }
    (ds, cls.toMap)
  }

  test("nbDocStats matches an exact in-driver class-count table") {
    val (ds, cls) = model
    val langs = ds.map(_._2).distinct.sorted
    val expected = ds.flatMap { case (id, _, tk) =>
      langs.map { l =>
        val cs = tk.flatMap(w => cls.get((l, w)))
        (id, l) -> ((cs.length.toLong, cs.sum))
      }
    }.toMap
    val got = Classify.nbDocStats(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // zero-fill is real: every (doc, class) pair is present
    assert(got.size == ds.length * langs.length)
  }

  test("nbClassify is bit-exact vs the in-driver smoothed-NB reference") {
    val (ds, cls) = model
    val langs = ds.map(_._2).distinct.sorted
    val vocab = ds.flatMap(_._3).distinct.length.toLong
    val ts = langs.map(l => l ->
      cls.collect { case ((`l`, _), c) => c }.sum).toMap
    val ns = langs.map(l => l -> ds.count(_._2 == l).toLong).toMap
    val n = ds.length.toLong
    val expected = ds.map { case (id, _, tk) =>
      val scored = langs.map { l =>
        val suml = tk.map(w =>
          cls.get((l, w)).fold(0L)(c =>
            dec12Scaled(math.log(c.toDouble + 1.0)))).sum
        val s = suml -
          tk.length.toLong *
            dec12Scaled(math.log(ts(l).toDouble + vocab.toDouble)) +
          dec12Scaled(math.log(ns(l).toDouble / n.toDouble))
        (s, l)
      }
      // the documented tie-break: max by (score, class) — the
      // lexicographically largest class wins a tied score
      val (s, l) = scored.max
      id -> ((l, s.toDouble / 1e12))
    }.toMap
    val got = Classify.nbClassify(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(got == expected)
    // scores are finite log-probabilities
    assert(got.values.forall(v => java.lang.Double.isFinite(v._2)))
  }

  test("nbClassify recovers planted classes with separated vocabularies") {
    import spark.implicits._
    // two classes, disjoint vocab with a shared-noise word — the sf
    // corpora are label-free word salad by construction, so class
    // recovery is shown through the REAL operator on a planted frame
    val rows = (0L until 40L).map { i =>
      val (lang, words) =
        if (i % 2 == 0) ("med", Array("dose", "trial", "cohort"))
        else ("law", Array("tort", "clause", "statute"))
      val text = (0 until 30)
        .map(j => if (j % 5 == 4) "common" else words((i + j).toInt % 3))
        .mkString(" ")
      (i, lang, text)
    }
    val planted = rows.toDF("doc_id", "lang", "text")
    val got = Classify.nbClassifyDocs(planted).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, lang, _) =>
      assert(got(id) == lang, s"doc $id: predicted ${got(id)}, planted $lang")
    }
  }

  test("tied classes break to the lexicographically largest, deterministically") {
    import spark.implicits._
    // mirrored classes with identical content and priors — every
    // per-class count, total, and prior is equal, so every score
    // ties and the documented rule must pick the larger label
    val rows = (0L until 10L).map { i =>
      (i, if (i < 5) "aa" else "zz", "same words every time")
    }
    val got = Classify.nbClassifyDocs(rows.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.values.forall(_ == "zz"), s"tie-break drifted: $got")
  }

  test("a persisted NB model loads bit-identical and refuses a truncated artifact") {
    val dir = TestDirs.create("nbmodel").toString
    val fit = Classify.nbModelSaved(spark, sf, s"$dir/m")
    val loaded = Classify.loadModel(spark, s"$dir/m")
    assert(loaded.langs.toSeq == fit.langs.toSeq)
    assert(loaded.lnDenom.toSeq == fit.lnDenom.toSeq)
    assert(loaded.lnPrior.toSeq == fit.lnPrior.toSeq)
    fit.langs.indices.foreach { k =>
      assert(loaded.keys(k).toSeq == fit.keys(k).toSeq)
      assert(loaded.cnt(k).toSeq == fit.cnt(k).toSeq)
    }
    // a damaged artifact must refuse, not classify differently:
    // stripping the global row loses the smoothing denominators
    val crippled = spark.read.parquet(s"$dir/m")
      .filter(org.apache.spark.sql.functions.col("kind") =!= 2)
    crippled.write.mode("overwrite").parquet(s"$dir/bad")
    val e = intercept[IllegalArgumentException] {
      Classify.loadModel(spark, s"$dir/bad")
    }
    assert(e.getMessage.contains("global row"))
  }
}

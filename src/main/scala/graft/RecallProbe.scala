package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Near-duplicate RECALL measurement on the PERTURBED probe corpus
  * (SURVEY §8i): replica corpora make exact-dup recall trivially 1.0,
  * so `tools/make_probe.py --perturb` rewrites ~1/7 of token types
  * per copy — copies become genuine near-duplicates with jaccard
  * well below 1.0 — and this main measures what fraction of the TRUE
  * near-dup pairs each production LSH path recovers, against an
  * exact verifier run inside the known construction groups.
  *
  * Ground truth: every perturbed doc descends from base doc
  * `doc_id % nBase`; base docs that are exact duplicates OR base-level
  * near-duplicates (exact jaccard ≥ 0.25 over the unperturbed copy-0
  * slice — the sf0.1 corpus plants BOTH kinds of group) merge into
  * one expanded group, so cross-base pairs — including descendants of
  * two near-dup bases, which land squarely in the [0.3, 0.5) truth
  * bands (ADVICE r11) — are not missed. Within each
  * group the truth pass computes EXACT shingle-key jaccard and exact
  * simhash Hamming for every pair — the all-pairs work is bounded by
  * group size (copies × base dup-group), never corpus-quadratic.
  * Truth uses the same kernels as the operators (`shingle_keys`,
  * `simhash_text`), so recall isolates CANDIDATE GENERATION loss —
  * the only approximate stage — not verifier drift.
  *
  * Output: one JSON line per (method, jaccard-band) with truth size,
  * found size, recall; plus the simhash row against Hamming ≤ 3
  * truth (pigeonhole guarantees recall 1.0 short of bucket-cap
  * drops, so the row VERIFIES the guarantee at scale).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfpert")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val copies = args.headOption.map(_.toInt).getOrElse(100)
    // optional method subset after the copy count (cheap re-runs when
    // a long session dies partway): jaccard_lsh minhash simhash ann
    val methodNames =
      Set("jaccard_lsh", "minhash", "simhash", "ann", "knn",
        "sentence", "paragraph", "substring")
    val picked = args.drop(1).toSet
    val badNames = picked.diff(methodNames)
    require(badNames.isEmpty,
      s"unknown methods: ${badNames.mkString(", ")} (usage: runMain " +
        s"graft.RecallProbe [copies] [${methodNames.mkString("|")} ...])")
    def wanted(m: String): Boolean = picked.isEmpty || picked(m)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(GraftSession.codegenConf)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.functions.HashFunctions.{shingle_keys, simhash_text}
    import graft.functions.TextFunctions.fingerprintMd5

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val nTotal = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    require(nTotal % copies == 0,
      s"doc count $nTotal not divisible by copies=$copies — pass the " +
        "copy count make_probe.py was run with")
    val nBase = nTotal / copies

    // expanded groups: bases merge when EXACTLY duplicate or base-
    // level NEAR-duplicate (exact jaccard >= 0.25 on the unperturbed
    // copy-0 slice, all-pairs via the inverted-posting verifier in
    // ONE source-less block — cheap at base scale). Without the
    // near-dup pass, descendants of two planted near-dup bases form
    // true cross-base pairs in the [0.3, 0.5) bands that the truth
    // denominator would silently miss (ADVICE r11).
    val base = docs.filter(col("doc_id") < nBase)
    val fpW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
    val fpEdges = base
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .withColumn("m", min(col("doc_id")).over(fpW))
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("doc_a"), col("m").as("doc_b"))
    val ndEdges = operators.Dedup.jaccardPairsDocs(
        base.select(col("doc_id"), lit("").as("source"), col("text")),
        threshold = 0.25, maxDf = 1000)
      .select(col("doc_a"), col("doc_b"))
    val clustered = operators.Clusters
      .clusterPairs(fpEdges.union(ndEdges))
      .withColumnRenamed("doc_id", "base")
    val baseGroup = base.select(col("doc_id").as("base"))
      .join(clustered, Seq("base"), "left")
      .select(col("base"),
        coalesce(col("cluster_id"), col("base")).as("grp"))

    val keyed = docs
      .select(col("doc_id"),
        shingle_keys(col("text"), lit(""), 3).as("sh"),
        simhash_text(col("text")).as("sim"))
      .withColumn("base", col("doc_id") % nBase)
      .join(broadcast(baseGroup), Seq("base"))
      .select(col("grp"), col("doc_id"), col("sh"), col("sim"))

    // all-pairs EXACT verify inside each expanded group; emit pairs
    // that could matter for any measured band (jaccard ≥ 0.25 or
    // Hamming ≤ 3) — cross-slice perturbed pairs sit near j≈0.22 and
    // are below every band under test
    lazy val truth = keyed
      .as[(Long, Long, Array[Long], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.toArray.sortBy(_._2)
        val out = Seq.newBuilder[(Long, Long, Double, Int)]
        var i = 0
        while (i < ms.length) {
          var j = i + 1
          while (j < ms.length) {
            val a = ms(i)._3; val b = ms(j)._3
            var x = 0; var y = 0; var inter = 0
            while (x < a.length && y < b.length) {
              if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
              else if (a(x) < b(y)) x += 1
              else y += 1
            }
            val union = a.length + b.length - inter
            val jac = if (union == 0) 0.0 else inter.toDouble / union
            val ham = java.lang.Long.bitCount(ms(i)._4 ^ ms(j)._4)
            if (jac >= 0.25 || ham <= 3)
              out += ((ms(i)._2, ms(j)._2, jac, ham))
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("doc_a", "doc_b", "jac", "ham")
      .localCheckpoint(true)

    val bands = Seq((0.3, 0.4), (0.4, 0.5), (0.5, 1.01))
    def recallOf(name: String, found: org.apache.spark.sql.DataFrame,
        sec: Double): Unit = {
      val f = found.select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true)
      bands.foreach { case (lo, hi) =>
        val t = truth.filter(col("jac") >= lo && col("jac") < hi)
        val nT = t.count()
        val nF = t.join(f, Seq("doc_a", "doc_b"), "left_semi").count()
        val r = if (nT == 0) -1.0 else nF.toDouble / nT
        println(f"""{"method":"$name","band":"[$lo%.1f,${
          math.min(hi, 1.0)}%.1f)","truth":$nT,"found":$nF,"recall":$r%.4f,"sec":$sec%.1f}""")
      }
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // production cross-block paths at near-dup scale parameters
    // (16 bands × 2 rows: P[candidate] ≈ 0.98 at j=0.45)
    if (wanted("jaccard_lsh")) {
      val (lsh, lshSec) = timed {
        operators.Dedup.jaccardPairsLsh(spark, sfDir,
          threshold = 0.3, k = 32, bands = 16)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      }
      recallOf("jaccard_lsh_t0.3", lsh, lshSec)
      // the auto-scaled shape (lshParamsFor: 64 × (32×2) at t=0.3 —
      // S-curve 0.951 at the threshold itself vs the pinned default's
      // 0.779): the [0.3,0.4) band must clear 0.9 without blowing the
      // candidate volume (sec stays same order as the pinned row)
      val (lshAuto, lshAutoSec) = timed {
        operators.Dedup.jaccardPairsLsh(spark, sfDir, threshold = 0.3)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      }
      recallOf("jaccard_lsh_auto_t0.3", lshAuto, lshAutoSec)
    }

    if (wanted("minhash")) {
      val (mh, mhSec) = timed {
        operators.MinHashDedup.minhashPairs(spark, sfDir,
          k = 32, bands = 16, minEst = 0.3)
          .filter(col("jaccard") >= 0.3)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      }
      recallOf("minhash_b16_e0.3", mh, mhSec)
    }

    // simhash truth is Hamming ≤ 3 — the operator's own contract
    if (wanted("simhash")) {
      val (sh, shSec) = timed {
        operators.MinHashDedup.simhashPairs(spark, sfDir, maxHamming = 3)
          .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      }
      val tSim = truth.filter(col("ham") <= 3)
      val nT = tSim.count()
      val nF = tSim.join(sh, Seq("doc_a", "doc_b"), "left_semi").count()
      println(f"""{"method":"simhash_h3","band":"ham<=3","truth":$nT,"found":$nF,"recall":${
        if (nT == 0) -1.0 else nF.toDouble / nT}%.4f,"sec":$shSec%.1f}""")
    }

    // ---- span-granularity scrub recall (r14): the sentence /
    // paragraph / substring dedup operators are EXACT, so their
    // recall contract is 1.0 — these rows VERIFY the guarantee at
    // the 500k-doc scale (the simhash-row rationale: frontier
    // budgets, df caps or join shapes could silently drop spans).
    // The raw corpus has no sentence/paragraph structure, so spans
    // are PLANTED (the registered-fixture convention), keyed by BASE
    // so each shared span has df ≈ copies/3: doc_id % 3 == 0 gets a
    // base-keyed shared span (must be scrubbed in every non-owner,
    // kept by the owner where the operator has owner semantics),
    // % 3 == 1 a doc-keyed unique span (must always survive — the
    // false-scrub control), % 3 == 2 stays bare. Markers carry an
    // 'x' suffix sentinel so base 17's marker is not a prefix of
    // base 170's.
    def spanRecall(name: String,
        sharedTail: org.apache.spark.sql.Column,
        uniqueTail: org.apache.spark.sql.Column,
        sharedMark: org.apache.spark.sql.Column,
        uniqueMark: org.apache.spark.sql.Column,
        ownerKeeps: Boolean,
        scrub: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame): Unit = {
      val mode = col("doc_id") % 3
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(mode === 0, sharedTail)
            .when(mode === 1, uniqueTail)
            .otherwise(lit(""))).as("text"))
      val (flags, sec) = timed {
        scrub(planted)
          .select(col("doc_id"), col("clean_text"))
          .withColumn("mode", mode)
          .filter(col("mode") < 2)
          .withColumn("base", col("doc_id") % nBase)
          .withColumn("mark",
            when(col("mode") === 0, sharedMark).otherwise(uniqueMark))
          .select(col("doc_id"), col("mode"), col("base"),
            col("clean_text").contains(col("mark")).as("has"))
          .localCheckpoint(true)
      }
      val owners =
        if (!ownerKeeps)
          flags.filter(lit(false)).select(col("doc_id").as("owner"))
        else flags.filter(col("mode") === 0).groupBy(col("base"))
          .agg(min(col("doc_id")).as("owner"))
      val shared = flags.filter(col("mode") === 0)
        .join(owners.select(col("owner").as("doc_id"),
          lit(true).as("is_owner")), Seq("doc_id"), "left")
      val agg = shared.agg(
        count(when(!coalesce(col("is_owner"), lit(false)), 1))
          .as("truth"),
        count(when((!coalesce(col("is_owner"), lit(false))) &&
          !col("has"), 1)).as("scrubbed"),
        count(when(coalesce(col("is_owner"), lit(false)) &&
          col("has"), 1)).as("owners_kept"),
        count(when(coalesce(col("is_owner"), lit(false)), 1))
          .as("owners")).first()
      val uniq = flags.filter(col("mode") === 1).agg(
        count(lit(1)).as("n"),
        count(when(col("has"), 1)).as("kept")).first()
      val truth = agg.getLong(0); val scrubbed = agg.getLong(1)
      println(f"""{"method":"$name","band":"planted","truth":$truth,"found":$scrubbed,"recall":${
        if (truth == 0) -1.0 else scrubbed.toDouble / truth
      }%.4f,"owners_kept":${agg.getLong(2)},"owners":${agg.getLong(3)},"unique":${
        uniq.getLong(0)},"unique_kept":${uniq.getLong(1)},"sec":$sec%.1f}""")
    }

    def key(pfx: String, k: org.apache.spark.sql.Column) =
      concat(lit(pfx), k.cast("string"), lit("x"))
    val baseK = col("doc_id") % nBase

    if (wanted("sentence"))
      spanRecall("sentence_span_scrub_join",
        sharedTail = concat(lit(". "), key("shr", baseK),
          lit(" zero. "), key("shr", baseK), lit(" one! "),
          key("shr", baseK), lit(" two?")),
        uniqueTail = concat(lit(". "), key("unq", col("doc_id")),
          lit(" zero. "), key("unq", col("doc_id")), lit(" one! "),
          key("unq", col("doc_id")), lit(" two?")),
        sharedMark = key("shr", col("base")),
        uniqueMark = key("unq", col("doc_id")),
        ownerKeeps = true,
        operators.CorpusOps.sentenceSpanScrubJoin(_))

    if (wanted("paragraph")) {
      require(copies >= 6,
        s"paragraph recall needs copies >= 6 (df = copies/3 must " +
          s"clear minDf = 2), got $copies")
      spanRecall("paragraph_dedup",
        sharedTail = concat(lit("\n\n"), key("par", baseK),
          lit(" shared boiler block")),
        uniqueTail = concat(lit("\n\n"), key("upar", col("doc_id")),
          lit(" own content block")),
        sharedMark = key("par", col("base")),
        uniqueMark = key("upar", col("doc_id")),
        ownerKeeps = false, // df >= minDf drops EVERY occurrence
        // minDf = 2, not the operator default 3: a shared paragraph
        // has df ≈ copies/3, so at the cheap-re-run copy counts
        // (copies < 9) the default would CORRECTLY keep it and this
        // row would report a false recall 0.0 against an exact
        // operator; df = 2 makes the truth planted for every copies
        // ≥ 6 (unique controls have df = 1 under either setting)
        operators.CorpusOps.paragraphDedup(_, minDf = 2))
    }

    if (wanted("substring"))
      spanRecall("substring_scrub_join",
        sharedTail = concat(lit(" "), key("sb", baseK),
          lit(" alpha beta gamma delta epsilon zeta eta theta iota")),
        uniqueTail = concat(lit(" "), key("ub", col("doc_id")),
          lit(" alpha beta gamma delta epsilon zeta eta theta iota")),
        sharedMark = key("sb", col("base")),
        uniqueMark = key("ub", col("doc_id")),
        ownerKeeps = true,
        operators.CorpusOps.substringScrubJoin(_))

    // ---- ANN recall@k: approximate paths vs the exact brute-force
    // top-k on the same queries (vec_id < nQueries, every path's
    // query convention). Pair-set recall over (query_id, neighbor_id).
    if (wanted("ann")) {
      val annQ = 100
      val annK = 10
      val (bf, bfSec) = timed {
        operators.Similarity.annBruteForce(spark, sfDir,
          nQueries = annQ, k = annK)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
      }
      val nBf = bf.count()
      println(f"""{"method":"ann_bruteforce","band":"top$annK","truth":$nBf,"found":$nBf,"recall":1.0,"sec":$bfSec%.1f}""")
      def annRecall(name: String,
          mk: => org.apache.spark.sql.DataFrame): Unit = {
        val (found, sec) = timed {
          mk.select(col("query_id"), col("neighbor_id"))
            .localCheckpoint(true)
        }
        val hit = bf.join(found, Seq("query_id", "neighbor_id"),
          "left_semi").count()
        println(f"""{"method":"$name","band":"top$annK","truth":$nBf,"found":$hit,"recall":${
          hit.toDouble / nBf}%.4f,"sec":$sec%.1f}""")
      }
      annRecall("ann_lsh", operators.Similarity.annLsh(spark, sfDir,
        k = annK, nQueries = annQ))
      annRecall("ann_ivf", operators.Similarity.annIvf(spark, sfDir,
        k = annK, nQueries = annQ))
      // honest scale parameters: 64 cells (~3k vectors each), probe 8
      // — 12.5% of the corpus per query; the recall cost of realistic
      // cell counts is the number a deployment tunes against
      annRecall("ann_ivf_scaled", operators.Similarity.annIvf(spark,
        sfDir, nCells = 64, nProbe = 8, k = annK, nQueries = annQ))
      annRecall("ann_pq", operators.Similarity.annPq(spark, sfDir,
        k = annK, nQueries = annQ))
    }

    // ---- S15 graph recall on SAMPLED VERTICES: the IVF graph build
    // runs at FULL corpus scale (every vector gets its neighbors);
    // exact truth is affordable only for a vertex sample (100 ·
    // corpus dot products vs the corpus-quadratic full truth), so
    // recall is measured on the sampled vertices' rows — the
    // candidate-generation quality those rows witness is the same
    // for every vertex (one fit, one assignment, one probe rule).
    if (wanted("knn")) {
      val q = 100
      val k = 5
      val (bf, bfSec) = timed {
        operators.Similarity.annBruteForce(spark, sfDir,
          nQueries = q, k = k)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
      }
      val nBf = bf.count()
      println(f"""{"method":"knn_truth_sample","band":"top$k","truth":$nBf,"found":$nBf,"recall":1.0,"sec":$bfSec%.1f}""")
      val (g, gSec) = timed {
        operators.Similarity.knnGraphIvf(spark, sfDir, k = k)
          .filter(col("vec_id") < q)
          .select(col("vec_id").as("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
      }
      val hit = bf.join(g, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      println(f"""{"method":"knn_graph_ivf","band":"top$k","truth":$nBf,"found":$hit,"recall":${
        hit.toDouble / nBf}%.4f,"sec":$gSec%.1f}""")
    }

    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (SURVEY §2.4).
  *
  * Scale shape: the query set is always the small side → broadcast;
  * the corpus streams through a single scan partition-parallel, and
  * the per-query top-k is a windowed rank (partial top-k per
  * partition via AQE, no global sort of the corpus). The LSH / IVF
  * variants bound candidate generation by bucket so nothing is O(n²)
  * in the corpus.
  */
object Similarity {

  /** S1 — brute-force cosine top-k: exact baseline (and the verifier
    * for the approximate paths). Queries = vec_id < 10, k = 5.
    *
    * r20 optimization round (guide §2.5/§4, bit-identical rows):
    * the corpus side is SPREAD (one small parquet file = ONE scan
    * partition, so the n·nQueries pair loop ran on one core), each
    * side's norm is computed ONCE per row instead of once per pair
    * (cosineAny re-derives both self-dots per pair — 3× the kernel
    * flops), and the per-query rank is the R26 bounded heap instead
    * of a window sort (same (cosine DESC, vec_id ASC) tie rule, so
    * rows are bit-equal — the knnGraphIvf precedent).
    */
  def annBruteForce(spark: SparkSession, sfDir: String,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    import graft.functions.AggFunctions.topk_by
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        normAny(col("emb")).as("q_nrm"))
    graft.plans.Spread.spreadIfNarrow(emb)
      .select(col("vec_id"), col("emb"), normAny(col("emb")).as("nrm"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dotAny(col("emb"), col("q_emb")) /
        (col("nrm") * col("q_nrm")))
      .groupBy(col("query_id"))
      .agg(topk_by(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        col("nb.ord").as("cosine"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** S4/D5 — blocked pairwise similarity join: all pairs within the
    * same label block with cosine ≥ threshold. The block key stands in
    * for an LSH/IVF bucket id at 100 TB — the join shape (shuffle both
    * sides on block key, pair within block) is the scalable one, but
    * pair COST is quadratic in block size, so this is the
    * SQL-expressible VERIFIER, not the production path
    * ([[simJoinLsh]] is). `maxRows` fails fast — loudly, with the
    * redirect — instead of silently burning O(n²/blocks) on a corpus
    * this was never meant for; raise it deliberately for a bigger
    * oracle run.
    */
  def simJoin(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, maxRows: Long = 100000): DataFrame = {
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").as("emb"))
    val n = emb.count()
    require(n <= maxRows,
      s"simJoin is the quadratic label-blocked VERIFIER ($n rows > " +
        s"maxRows=$maxRows): use Similarity.simJoinLsh for production " +
        "similarity joins, or raise maxRows deliberately")
    // r20: norms computed once per INPUT row (not once per pair —
    // cosineAny re-derives both self-dots per pair, 3× the kernel
    // flops on a quadratic pair volume); dot/(nrm_a*nrm_b) is the
    // same fold in the same operand order, rows bit-equal.
    val a = emb.select(col("vec_id").as("vec_a"), col("label"),
      col("emb").as("emb_a"), normAny(col("emb")).as("nrm_a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("label"),
      col("emb").as("emb_b"), normAny(col("emb")).as("nrm_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", dotAny(col("emb_a"), col("emb_b")) /
        (col("nrm_a") * col("nrm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** S2 — random-hyperplane LSH ANN. Hyperplane weights are derived
    * from a hash of (plane, dim) → deterministic, no Math.random, no
    * driver-side state; signature = packed sign bits; candidates =
    * same (band, signature) bucket; exact cosine re-rank inside
    * buckets. Rows-only (sketch internals are engine-specific).
    *
    * `nPlanes = 0` (the default) auto-scales bits-per-band from the
    * corpus count ([[lshBitsFor]]): a FIXED plane budget means
    * E[bucket] = n/2^bits grows linearly with the corpus — fine at
    * sf0.1, quadratic re-rank cost at 100×. One footer-cheap count()
    * buys bounded buckets at any n; recall at a fixed band count
    * drops as bits rise, so recall-critical configs should raise
    * `nBands` alongside (the spec'd small-SF regime clamps to the
    * old 4-bit/16-plane behavior).
    */
  def annLsh(spark: SparkSession, sfDir: String,
      nPlanes: Int = 0, nBands: Int = 4, k: Int = 5,
      nQueries: Int = 10, targetBucket: Int = 1024): DataFrame = {
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    val planes =
      if (nPlanes > 0) nPlanes
      else nBands * lshBitsFor(emb.count(), targetBucket)
    // bucket join and candidate dedup run on SKINNY id rows (3
    // longs); vectors re-attach only after distinct. Shuffling the
    // 64-double embeddings through the multi-band join + distinct
    // was the dominant cost at the 100× probe (82s → ids-only).
    val banded = bandedVectors(spark, emb, planes, nBands)
      .select(col("vec_id"), col("band"), col("bsig"))
    val queries = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bsig"))
    val candIds = banded.join(queries, Seq("band", "bsig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    // r20: per-side norms once per row + bounded-heap rank (same tie
    // rule as the window it replaces — bit-equal rows, the
    // knnGraphIvf precedent)
    import graft.functions.AggFunctions.topk_by
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        normAny(col("emb")).as("q_nrm"))
    candIds.join(emb.select(col("vec_id"), col("emb"),
        normAny(col("emb")).as("nrm")), "vec_id")
      .join(broadcast(qEmb), "query_id")
      .withColumn("cosine", dotAny(col("emb"), col("q_emb")) /
        (col("nrm") * col("q_nrm")))
      .groupBy(col("query_id"))
      .agg(topk_by(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        col("nb.ord").as("cosine"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Bits per band for a corpus of `n` vectors: smallest b with
    * E[bucket] = n/2^b ≤ targetBucket, clamped to [4, 24] (4 keeps
    * the measured small-SF recall regime; 24 bounds signature
    * sparsity — beyond that buckets are mostly singletons and more
    * bits only cost recall).
    */
  private[graft] def lshBitsFor(n: Long, targetBucket: Int): Int = {
    val needed = math.ceil(
      math.log(math.max(n.toDouble / targetBucket, 1.0)) / math.log(2)).toInt
    math.max(4, math.min(24, needed))
  }

  /** Random-hyperplane signature + banding in one typed flatMap,
    * shared by annLsh and simJoinLsh: plane weights are
    * splitmix-derived from (plane, dim) — deterministic, no RNG
    * state, no broadcast needed — and the signature is computed
    * exactly once per vector (an explode() over a computed signature
    * would re-run all planes per band row — see Dedup.jaccardPairs).
    * Output: (vec_id, emb, band, bsig).
    */
  private[operators] def bandedVectors(spark: SparkSession,
      emb: DataFrame, nPlanes: Int, nBands: Int): DataFrame = {
    import spark.implicits._
    val bitsPerBand = nPlanes / nBands
    require(bitsPerBand >= 1 && bitsPerBand <= 63,
      s"bitsPerBand must be in [1,63], got $bitsPerBand")
    val nWords = (nPlanes + 63) / 64
    // r20: spread the scan — the signature kernel (nPlanes dots per
    // vector) otherwise runs on the small file's single scan
    // partition; a no-op on any real multi-split input
    graft.plans.Spread.spreadIfNarrow(emb).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        // plane weights depend only on (plane, dim): computed ONCE per
        // partition, not per vector — re-deriving the splitmix64 hash
        // inside the dot loop was nPlanes×dim evals PER VECTOR (410M
        // at the 100× probe with 32 planes; measured 2× the whole
        // operator). The unboxed double[] copy matters equally: a
        // Seq[Double] apply boxes every element access.
        var weights: Array[Double] = null // nPlanes × dim, row-major
        var dim = -1
        it.flatMap { case (id, v) =>
          val arr = v.toArray
          if (dim != arr.length) {
            dim = arr.length
            weights = new Array[Double](nPlanes * dim)
            var p = 0
            while (p < nPlanes) {
              var d = 0
              while (d < dim) {
                // splitmix64 of (p, d) → weight in [-1, 1]
                var z = (p * 4096L + d) + 0x9e3779b97f4a7c15L
                z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
                z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
                z = z ^ (z >>> 31)
                weights(p * dim + d) = (z % 20001L) / 10000.0
                d += 1
              }
              p += 1
            }
          }
          // signature packed across words, so nPlanes is NOT capped at
          // 64 — recall-heavy configs (128 planes × 16 bands) need it
          val words = new Array[Long](nWords)
          var p = 0
          while (p < nPlanes) {
            var acc = 0.0
            val base = p * dim
            var d = 0
            while (d < dim) {
              acc += arr(d) * weights(base + d)
              d += 1
            }
            if (acc >= 0) words(p >> 6) |= (1L << (p & 63))
            p += 1
          }
          (0 until nBands).map { bd =>
            var sig = 0L
            var i = 0
            while (i < bitsPerBand) {
              val plane = bd * bitsPerBand + i
              if ((words(plane >> 6) & (1L << (plane & 63))) != 0)
                sig |= (1L << i)
              i += 1
            }
            (id, v, bd, sig)
          }
        }
      }
      .toDF("vec_id", "emb", "band", "bsig")
  }

  /** S4-prod — the PRODUCTION pairwise similarity join: LSH-banded
    * blocking instead of an unbounded low-cardinality key, exact
    * cosine computed inside buckets, bucket-size cap so a degenerate
    * signature cannot go quadratic. `simJoin` (label-blocked) stays
    * as the small-scale oracle verifier; this path's recall against
    * it is spec'd ≥ 0.9 at threshold 0.45 (SimilaritySpec).
    *
    * Scale shape: two shuffles (bucket groupBy, pair distinct); the
    * threshold filter runs INSIDE the pair flatMap so only qualifying
    * pairs — never the O(bucket²) candidate set — reach a shuffle.
    * Buckets above `maxBucket` are dropped and counted via
    * observe("simjoinlsh_bucket_cap", dropped_buckets).
    *
    * `nBands = 0` (THE DEFAULT since r17) auto-sizes the band width
    * from one bounded corpus count ([[simJoinLshBandsFor]]): a fixed
    * band count keeps the per-band signature space constant, so
    * background bucket occupancy grows linearly with the corpus and
    * at ~100× the old fixed default (16 bands of 4 bits) EVERY
    * bucket breached `maxBucket` — the face returned zero pairs,
    * loudly (the observe metric) but zero, the
    * empty-but-plausible failure the r16 verdict flagged. Pass an
    * explicit band count only to pin a measured recall regime.
    *
    * RECALL IS A FUNCTION OF SIMILARITY AND SCALE, not a constant of
    * the face: candidate recall at pair similarity s is analytically
    * 1 − (1 − p(s)^bits)^bands with p(s) = 1 − acos(s)/π
    * ([[lshExpectedRecall]]), and the occupancy-forced band WIDTH
    * grows with the corpus, so the curve steepens: the sf0.01 auto
    * sizing (16×4) holds ~0.96 at s = 0.45, but the 200k sizing
    * (4×16) holds ~0.004 there while still catching near-duplicates
    * (~1.0 at s ≥ 0.99) — at corpus scale the blocked join degrades
    * GRACEFULLY FROM A θ-JOIN INTO A NEAR-DUP JOIN. That number is
    * surfaced per run as the observed `expected_recall_ppm` metric
    * next to the bucket-cap count; callers who need a guaranteed
    * recall at their threshold use [[simJoinLshAt]], which solves
    * the banding from the contract and REFUSES infeasible ones; for
    * mid-similarity retrieval at scales where that refuses, use
    * [[annIvf]]/[[knnGraphIvf]].
    */
  def simJoinLsh(spark: SparkSession, sfDir: String,
      threshold: Double = 0.45, nPlanes: Int = 64, nBands: Int = 0,
      maxBucket: Int = 5000, knownN: Long = 0L,
      sizedWithN: Long = 0L): DataFrame = {
    // same range refusal as the contract solver (r19 self-review):
    // θ>1 can never pass the cosine filter, yet planeAgreeP clamps it
    // to p=1 so the observe row would report expected_recall_ppm =
    // 1e6 next to an inevitably-empty result — the one combination
    // the loud-metric convention exists to prevent
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1,1]: $threshold")
    import spark.implicits._
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    // `knownN > 0` skips the auto-sizing count: daily-loop callers
    // already hold the corpus cardinality in their D14/S12 index
    // artifacts, and at 100 TB even a metadata-cheap parquet count
    // is a scan the caller shouldn't pay per invocation. Auto with
    // an explicit n is spec-pinned ≡ auto with the counted n.
    // knownN is TRUSTED, deliberately (the r18 ADVICE): any guard
    // that re-estimates n pays the count the parameter exists to
    // skip. A wrong knownN (a stale artifact, or a doc count where a
    // vector count belongs) mis-sizes the banding and degrades recall
    // SILENTLY — the loud channel is `lsh_sizing_n` on the observe
    // row below, which logs the n every run actually sized with
    // (erased on empty output under AQE like the rest of the row —
    // the standing caveat — so reconcile it against the index
    // artifact's own count on a cadence, not only on failures).
    // `sizedWithN`: the n an explicit banding was SOLVED from —
    // simJoinLshAt passes its contract-solver n through so those runs
    // also log the cardinality they were sized with on the observe
    // row (the r19 ADVICE finding: the solver path sizes from the
    // same trusted knownN the reconciliation channel exists for, but
    // its n never reached `lsh_sizing_n`, so a stale knownN fed to
    // simJoinLshAt stayed silent). 0 is reserved for truly
    // hand-specified bandings, where no sizing n exists.
    val sizedN: Long =
      if (nBands != 0) sizedWithN
      else if (knownN > 0) knownN
      else emb.count()
    val bands =
      if (nBands == 0) simJoinLshBandsFor(sizedN, nPlanes, maxBucket)
      else nBands
    // parts-per-million so the analytic recall at the CALLER'S
    // threshold rides the long-typed observe channel — the same
    // loud-metric convention as the bucket cap (a 0-rows result at
    // expected_recall_ppm ≈ 0 is the banding working as sized, not
    // a corpus without near-duplicates)
    val recallPpm =
      (lshExpectedRecall(threshold, nPlanes / bands, bands) * 1e6).toLong
    bandedVectors(spark, emb, nPlanes, bands)
      .groupBy(col("band"), col("bsig"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("emb"))))
        .as("members"))
      // observed ABOVE the size>1 filter: a banding whose buckets are
      // all singletons is EXACTLY the 0-pairs case the ppm metric
      // exists to explain, and observing below the filter aggregated
      // zero rows there — reporting null instead of the number (the
      // r17 ADVICE finding). Size-1 buckets can never exceed the cap,
      // so dropped_buckets is unchanged by the move. The solved
      // banding rides along so every run logs the (bits, bands) it
      // actually used. CAVEAT (found fixing the above, spec-pinned):
      // under AQE an EMPTY final result erases the whole observe row
      // no matter where it sits — AQEPropagateEmptyRelation replaces
      // the executed stages with EmptyRelationExec, and the
      // CollectMetrics node (already run, accumulators populated)
      // drops out of the final plan that observedMetrics walks. The
      // observe channel is therefore best-effort on empty results;
      // the DETERMINISTIC channel for "why 0 pairs?" is the analytic
      // solver itself — [[lshExpectedRecall]] at the caller's
      // threshold, and [[simJoinLshAt]] which refuses contracts the
      // banding cannot honor instead of emitting the empty frame.
      .observe("simjoinlsh_bucket_cap",
        sum(when(size(col("members")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"),
        max(lit(recallPpm)).as("expected_recall_ppm"),
        max(lit((nPlanes / bands).toLong)).as("lsh_bits"),
        max(lit(bands.toLong)).as("lsh_bands"),
        max(lit(sizedN)).as("lsh_sizing_n"))
      .filter(size(col("members")) > 1)
      .filter(size(col("members")) <= maxBucket)
      .select(col("members"))
      // identical member sets across bands (e.g. every band of an
      // exact-duplicate group) pair-generate once, not bands× — on a
      // duplicate-heavy corpus this is a bands-fold cut in pair work
      // for one extra shuffle of the (already shuffled) bucket lists
      .distinct()
      .as[Seq[(Long, Seq[Float])]]
      .flatMap { members =>
        // unbox once: the O(bucket²·dim) inner loops then run on raw
        // double[] (the Seq[Double] the encoder hands back costs a
        // per-element indirection that dominates at ~10⁶ pairs/bucket
        // group — measured 6.1s → 1.5s at sf0.1)
        val ids = members.map(_._1).toArray
        val vecs = members.map(_._2.toArray).toArray
        val n = ids.length
        val norms = new Array[Double](n)
        var i = 0
        while (i < n) {
          val v = vecs(i); var s = 0.0; var d = 0
          // float elements must widen BEFORE multiplying: a
          // float×float product rounds to float and drifts off the
          // oracle-checked double arithmetic
          while (d < v.length) {
            val x = v(d).toDouble; s += x * x; d += 1
          }
          norms(i) = math.sqrt(s); i += 1
        }
        val out = Seq.newBuilder[(Long, Long, Double)]
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val va = vecs(i); val vb = vecs(j)
            var dot = 0.0; var d = 0
            while (d < va.length) {
              dot += va(d).toDouble * vb(d).toDouble; d += 1
            }
            val denom = norms(i) * norms(j)
            val c = if (denom == 0.0) 0.0 else dot / denom
            if (c >= threshold) out += ((ids(i), ids(j), c))
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("vec_a", "vec_b", "cosine")
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The band width [[simJoinLsh]]'s auto default picks for a corpus of `n`
    * vectors: the smallest power-of-two bit count whose EXPECTED
    * random-collision bucket `n / 2^bits` stays an order of
    * magnitude under `maxBucket`, so the cap only ever bites TRUE
    * near-duplicate groups — never the background occupancy. Returns
    * the band COUNT (`nPlanes / bits`, floor 1). Reproduces both
    * hand-tuned choices: 2k vectors → 16 bands of 4 bits (the old
    * registry default), 200k → 4 bands of 16 bits (the 100×-probe
    * sizing). Width is capped at min(nPlanes/2, 32) — ≥ 2 bands and
    * never a band wider than 32 bits: the packed band signature is a
    * long and [[bandedVectors]] requires ≤ 63 bits per band, so an
    * uncapped chooser would pick one 64-bit band past n ≈ 2⁴¹ and
    * throw at exactly the scale it exists for (the r16 ADVICE
    * finding). Past the cap (n/2³² over maxBucket/10 means > ~2⁴¹
    * vectors, or duplicate-dense data), the bucket cap + observe
    * metric carry the remaining risk. Exposed for spec pinning.
    */
  private[graft] def simJoinLshBandsFor(n: Long, nPlanes: Int = 64,
      maxBucket: Int = 5000): Int = {
    require(nPlanes >= 4 && Integer.bitCount(nPlanes) == 1,
      s"nPlanes must be a power of two >= 4: $nPlanes")
    math.max(2,
      nPlanes / simJoinLshBitsFor(n, math.min(nPlanes / 2, 32), maxBucket))
  }

  /** The occupancy-forced band WIDTH alone (the [[simJoinLshBandsFor]]
    * loop, shared with [[simJoinLshAt]]'s contract solver): smallest
    * power-of-two bits with E[bucket] = n/2^bits ≤ maxBucket/10,
    * clamped to [4, maxBits].
    */
  private[graft] def simJoinLshBitsFor(n: Long, maxBits: Int,
      maxBucket: Int): Int = {
    var bits = 4
    while (bits < maxBits &&
        n.toDouble / math.pow(2.0, bits) > maxBucket / 10.0)
      bits *= 2
    bits
  }

  /** P[one random hyperplane agrees on a pair at cosine `s`] —
    * Goemans–Williamson: 1 − acos(s)/π.
    */
  private[graft] def planeAgreeP(s: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, s))) / math.Pi

  /** Analytic candidate recall of (bits, bands) sign-LSH banding at
    * pair similarity `s`: 1 − (1 − p(s)^bits)^bands. This is the
    * number the `expected_recall_ppm` observe metric reports and the
    * one [[simJoinLshAt]] solves for — exact for random hyperplanes
    * and independent bands (the construction used here), so a spec
    * can pin it arithmetically rather than by Monte Carlo.
    */
  private[graft] def lshExpectedRecall(s: Double, bits: Int,
      bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(planeAgreeP(s), bits), bands)

  /** The (bits, bands) plan [[simJoinLshAt]] runs: width forced by
    * bucket occupancy exactly as the auto default, band count solved
    * from the recall contract — smallest B with
    * 1 − (1 − p^bits)^B ≥ targetRecall. Throws when the contract
    * needs more than `maxPlanes` total planes: at corpus scale
    * sign-LSH cannot serve mid-similarity thresholds with bounded
    * buckets (p(0.45)^16 ≈ 1e-3 ⇒ thousands of bands) — a property
    * of the method, not a tuning miss — and the honest refusals name
    * the alternatives. Reproduces the historical hand sizing as a
    * THEOREM rather than a measurement: n = 2000, θ = 0.45,
    * R = 0.95 solves to 16 bands of 4 bits = the 64-plane registry
    * default (spec-pinned).
    */
  private[graft] def simJoinLshPlanFor(n: Long, threshold: Double,
      targetRecall: Double = 0.95, maxBucket: Int = 5000,
      maxPlanes: Int = 1024): (Int, Int) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1): $targetRecall")
    // cosine lives in [-1,1]; REFUSE outside it rather than clamp (the
    // r18 ADVICE): [[planeAgreeP]] clamps, so θ>1 silently solved to
    // pBand=1 ⇒ bands=1, and θ=NaN poisoned the ceil into bands=1 the
    // same way — the contract face ran with a meaningless banding
    // instead of refusing. A NaN threshold fails both comparisons
    // (IEEE NaN compares false), so it refuses here too.
    require(threshold >= -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in [-1,1]: $threshold")
    val bits = simJoinLshBitsFor(n, maxBits = 32, maxBucket)
    val pBand = math.pow(planeAgreeP(threshold), bits)
    // the band count is solved as a LONG and guarded by DIVISION: at
    // very low thresholds pBand underflows toward 0 and the ceil
    // blows up — Infinity.toInt clamps to Int.MaxValue, and
    // Int.MaxValue * bits WRAPS NEGATIVE, so the old product-form
    // require passed and the documented refusal decayed into a
    // confusing downstream bitsPerBand error (the r17 ADVICE
    // finding). `bands <= maxPlanes / bits` (bands integral, bits
    // positive) is equivalent to bands*bits <= maxPlanes and cannot
    // overflow either side; the message prints the exact plane count
    // via BigInt.
    val bands: Long =
      if (pBand >= 1.0) 1L
      else {
        val c = math.ceil(
          math.log1p(-targetRecall) / math.log1p(-pBand))
        if (c >= Long.MaxValue.toDouble) Long.MaxValue
        else math.max(1L, c.toLong)
      }
    require(bands <= maxPlanes / bits,
      f"recall $targetRecall%.2f at threshold $threshold%.2f needs " +
        f"$bands bands of $bits bits = ${BigInt(bands) * bits} planes " +
        f"(> $maxPlanes): bucket occupancy at n=$n forces $bits-bit " +
        "bands, where this threshold's per-band match rate " +
        f"${pBand}%.2e makes banding infeasible — use annIvf/" +
        "knnGraphIvf for mid-similarity retrieval at this scale, " +
        "raise the threshold, or accept the auto default's " +
        "near-dup regime (simJoinLsh, expected_recall_ppm metric)")
    (bits, bands.toInt)
  }

  /** S5-recall — [[simJoinLsh]] with the banding solved from an
    * EXPLICIT recall contract at the caller's threshold
    * ([[simJoinLshPlanFor]]) instead of a fixed plane budget;
    * refuses loudly when no affordable banding can honor it.
    * `knownN > 0` skips the cardinality count exactly as on
    * [[simJoinLsh]]. The solved (bits, bands) surface per run in the
    * observe metrics (`lsh_bits`, `lsh_bands`).
    */
  def simJoinLshAt(spark: SparkSession, sfDir: String,
      threshold: Double = 0.45, targetRecall: Double = 0.95,
      maxBucket: Int = 5000, maxPlanes: Int = 1024,
      knownN: Long = 0L): DataFrame = {
    val n =
      if (knownN > 0) knownN else embeddings(spark, sfDir).count()
    val (bits, bands) =
      simJoinLshPlanFor(n, threshold, targetRecall, maxBucket, maxPlanes)
    simJoinLsh(spark, sfDir, threshold, nPlanes = bits * bands,
      nBands = bands, maxBucket, sizedWithN = n)
  }

  /** S3 — IVF ANN: k-means centroids fit with `lloydIters` Lloyd
    * iterations (deterministic seed = first `nCells` vectors; each
    * iteration is one distributed assign + one aggregation, and only
    * nCells·dim doubles ever reach the driver, broadcast back),
    * assign corpus to nearest cell, probe the query's `nProbe`
    * nearest cells only. Rows-only.
    */
  def annIvf(spark: SparkSession, sfDir: String,
      nCells: Int = 8, nProbe: Int = 2, k: Int = 5,
      nQueries: Int = 10, lloydIters: Int = 2): DataFrame = {
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    val centroids = fitCentroids(spark, emb, nCells, lloydIters)

    // nearest cell per corpus vector (broadcast centroids, one pass)
    val assigned = assignCells(emb, centroids)

    // queries probe their nProbe nearest cells (r20: norms once per
    // side, not once per pair — same folds, rows bit-equal)
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        normAny(col("emb")).as("q_nrm"))
      .crossJoin(broadcast(centroids.select(col("cell_id"), col("c_emb"),
        normAny(col("c_emb")).as("c_nrm"))))
      .withColumn("cdist", dotAny(col("q_emb"), col("c_emb")) /
        (col("q_nrm") * col("c_nrm")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cdist").desc, col("cell_id"))))
      .filter(col("crnk") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell_id"))

    // r20: bounded-heap rank (same tie rule as the window — bit-equal)
    import graft.functions.AggFunctions.topk_by
    assigned.select(col("vec_id"), col("cell_id"), col("emb"),
        normAny(col("emb")).as("nrm"))
      .join(probes, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dotAny(col("emb"), col("q_emb")) /
        (col("nrm") * col("q_nrm")))
      .groupBy(col("query_id"))
      .agg(topk_by(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        col("nb.ord").as("cosine"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** S12 — PERSISTED IVF INDEX: the production serving shape of
    * [[annIvf]]. Real ANN deployments do not re-run k-means and
    * re-assign the corpus per query batch — they fit once, assign
    * once, persist (centroids + inverted cell lists), and every
    * search after that is probe-cells → scan-lists. [[saveIvfIndex]]
    * writes both tables as parquet (centroids/ and assigned/ under
    * one root — the D14 distributed-artifact convention: the
    * assignment is corpus-sized and never collects);
    * [[annIvfIndexed]] answers queries from the loaded artifact with
    * NO fit and NO assignment pass. Centroids are deterministic
    * (fitCentroids), so the indexed search is spec'd BIT-EQUAL to
    * the monolithic [[annIvf]] at the same parameters.
    *
    * One format: centroids are `(cell_id, c_emb array<double>)`, cell
    * lists are `(vec_id, cell_id, emb_bin)` with each vector stored as
    * its float32 blob (the S16 store). Every search scans the probed
    * lists once per query batch, so the blob is decoded once per
    * (candidate, probing query) pair by the fused single-load kernels,
    * and it rides the cell_id equi-join shuffle at exactly 4·dim
    * bytes. The packed kernels fold in the array kernels' element
    * order ([[graft.functions.PackedVectorKernels]]), which is what
    * keeps the search bit-equal to [[annIvf]]; PROBE_r20_packed_faces
    * records the A/B that retired the earlier `array<float>` lists.
    */
  def saveIvfIndex(spark: SparkSession, sfDir: String, path: String,
      nCells: Int = 8, lloydIters: Int = 2): Unit =
    saveIvfIndexOf(spark, embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb")),
      path, nCells, lloydIters)

  /** [[saveIvfIndex]] over an arbitrary `(vec_id, emb)` frame — the
    * composable core (the screenDocs convention).
    */
  def saveIvfIndexOf(spark: SparkSession, emb: DataFrame, path: String,
      nCells: Int = 8, lloydIters: Int = 2): Unit = {
    val centroids = fitCentroids(spark, emb, nCells, lloydIters)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    indexRows(emb, centroids)
      .write.mode("overwrite").parquet(s"$path/assigned")
  }

  /** The persisted cell-list rows of `(vec_id, emb)` under
    * `centroids`: the nearest-cell pass, each vector packed once.
    */
  private[graft] def indexRows(emb: DataFrame,
      centroids: DataFrame): DataFrame =
    assignCells(emb, centroids)
      .select(col("vec_id"), col("cell_id"),
        packFloats(col("emb")).as("emb_bin"))

  /** S13 — IVF INDEX MAINTENANCE: assign an increment's vectors to
    * the EXISTING centroids (one broadcast projection — no re-fit,
    * no touch of the resident corpus) and append the rows to the
    * persisted cell lists; the D14 `appendIndex` daily loop for ANN.
    * Assignment semantics are per-row, so append ≡ rebuilding the
    * assignment of the unioned corpus under the SAME centroids
    * (spec'd in SimilaritySpec) — searches over the appended index
    * are bit-equal to that rebuild. What append does NOT do is move
    * centroids: a drifting distribution degrades cell balance and
    * quantization quality silently, which is what [[ivfDrift]]
    * exists to make loud — re-fit when it says so.
    */
  def appendIvfIndex(spark: SparkSession, newVecs: DataFrame,
      path: String): Unit = {
    val (centroids, _) = loadIvfIndex(spark, path)
    indexRows(newVecs.select(col("vec_id"), col("emb")), centroids)
      .write.mode("append").parquet(s"$path/assigned")
  }

  /** The re-fit signal for [[appendIvfIndex]]: per-cell occupancy and
    * mean cosine-to-own-centroid of a persisted index. Track the
    * corpus-weighted mean over time — appends from the fitted
    * distribution hold it steady; a drop (vectors landing far from
    * every centroid) means the centroids no longer describe the data
    * and the pipeline should schedule a re-fit. One broadcast join +
    * one aggregation over ids/cosines — the payload vectors never
    * shuffle.
    */
  def ivfDrift(spark: SparkSession, path: String): DataFrame = {
    val (centroids, assigned) = loadIvfIndex(spark, path)
    assigned.join(broadcast(centroids), Seq("cell_id"))
      .withColumn("cos", cosinePackedAny(col("emb_bin"), col("c_emb")))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("cos")).as("mean_cos"))
      .orderBy(col("cell_id"))
  }

  /** Registered `ann_ivf_append`: the S13 daily loop end to end on a
    * fresh artifact — fit+assign the resident 4/5 of the corpus,
    * append the vec_id % 5 == 0 increment against the frozen
    * centroids, search the appended index. Rows-only (float cosine
    * ranks, the ann_ivf reasoning); SimilaritySpec pins append ≡
    * rebuild-under-fixed-centroids bit-exactly.
    */
  def annIvfAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_append").toString
    // The returned frame reads this dir lazily, so it cannot be
    // deleted here; a shutdown hook reaps every append scratch dir so
    // repeated bench/probe loops don't accumulate copies under tmpdir
    // beyond the JVM's lifetime.
    reapOnExit(dir)
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    saveIvfIndexOf(spark, emb.filter(col("vec_id") % 5 =!= 0), dir)
    appendIvfIndex(spark, emb.filter(col("vec_id") % 5 === 0), dir)
    val (centroids, assigned) = loadIvfIndex(spark, dir)
    annIvfIndexed(centroids, assigned)
  }

  /** Load a persisted IVF index → (centroids, assigned); refuses
    * tables without the index schema (the loadIndex convention), and
    * names an index written in the retired `array<float>` cell-list
    * format so the caller rebuilds it rather than failing in a kernel.
    */
  def loadIvfIndex(spark: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assigned")
    require(Seq("cell_id", "c_emb").forall(centroids.columns.contains),
      s"not an IVF centroid table at $path/centroids: " +
        centroids.columns.mkString("[", ",", "]"))
    val cols = assigned.columns
    require(cols.contains("emb_bin") || !cols.contains("emb"),
      s"array-format IVF index at $path/assigned (emb array<float>, " +
        "no emb_bin): that format is no longer read — rebuild the " +
        "index with saveIvfIndex")
    require(Seq("vec_id", "cell_id", "emb_bin").forall(cols.contains),
      s"not an IVF assignment table at $path/assigned: " +
        cols.mkString("[", ",", "]"))
    (centroids, assigned)
  }

  /** The nearest-cell pass shared by [[annIvf]] and [[saveIvfIndex]]:
    * broadcast centroids, one corpus scan.
    *
    * r20 (bit-identical assignment, differential-spec'd against the
    * window form): the scan is SPREAD (guide §2.5 — one small file =
    * one partition = a single-core assignment pass), norms are
    * computed once per side instead of once per (vector, centroid)
    * pair, and the argmax is ONE partial-agged `max_by` over the
    * same (cdist DESC, cell_id ASC) order — the crossJoin keeps each
    * vector's nCells rows in one map partition, so the partial
    * aggregate collapses them to one row BEFORE the exchange where
    * the window shape shuffled and sorted them first. NaN ordering
    * matches the window sort: struct ordering ranks NaN above any
    * double, exactly like `cdist DESC` did.
    */
  private[graft] def assignCells(emb: DataFrame,
      centroids: DataFrame): DataFrame = {
    val cents = broadcast(centroids.select(col("cell_id"), col("c_emb"),
      normAny(col("c_emb")).as("c_nrm")))
    graft.plans.Spread.spreadIfNarrow(emb)
      .select(col("vec_id"), col("emb"), normAny(col("emb")).as("nrm"))
      .crossJoin(cents)
      .withColumn("cdist", dotAny(col("emb"), col("c_emb")) /
        (col("nrm") * col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cell_id"), col("emb")),
        struct(col("cdist"), -col("cell_id"))).as("best"))
      .select(col("vec_id"), col("best.emb").as("emb"),
        col("best.cell_id").as("cell_id"))
  }

  /** Search a persisted/loaded IVF index with the corpus prefix
    * `vec_id < nQueries` as the query table — the [[annIvf]] tail with
    * the fit and assignment stages gone.
    */
  def annIvfIndexed(centroids: DataFrame, assigned: DataFrame,
      nProbe: Int = 2, k: Int = 5, nQueries: Int = 10): DataFrame =
    annIvfSearch(centroids, assigned,
      assigned.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("emb_bin").as("q_bin")),
      nProbe, k)

  /** S18 — BATCHED IVF SERVING: search an index for an ARBITRARY query
    * table `(query_id, q_bin)` — the realistic serving shape, where
    * thousands-to-millions of queries amortize one pass over the
    * probed cell lists. Plan: probe selection is one crossJoin against
    * the broadcast centroids (nQ·nCells fused packed cosines), then ONE
    * cell_id equi-join against the packed lists — un-hinted, so AQE
    * broadcasts a small probe table and shuffles a corpus-sized one
    * (the knnGraphIvf join shape; at full-corpus query volume this
    * face IS the graph build) — and both rank stages are R26 bounded
    * heaps, not windows: at nQ queries a window would shuffle-and-
    * sort nQ·nProbe·E[cell] candidate rows, while the heaps move at
    * most nProbe (resp. k) entries per query per partition,
    * map-side combined. The heap's native (ord DESC, id ASC) order
    * IS the library ANN tie rule, so on a corpus-prefix query table
    * this face is BIT-EQUAL to the window-probed monolithic [[annIvf]]
    * (spec-pinned). A query whose id matches a corpus vec_id excludes
    * that vector (self-exclusion, the ann family rule); foreign ids
    * exclude nothing.
    */
  def annIvfSearch(centroids: DataFrame, assigned: DataFrame,
      queries: DataFrame, nProbe: Int = 2, k: Int = 5): DataFrame = {
    import graft.functions.AggFunctions.topk_by
    val probes = queries.select(col("query_id"), col("q_bin"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", cosinePackedAny(col("q_bin"), col("c_emb")))
      .groupBy(col("query_id"))
      .agg(topk_by(col("cdist"), col("cell_id"), nProbe).as("pc"),
        first(col("q_bin")).as("q_bin"))
      .select(col("query_id"), col("q_bin"), explode(col("pc")).as("p"))
      .select(col("query_id"), col("q_bin"), col("p.id").as("cell_id"))
    assigned.join(probes, Seq("cell_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosinePacked(col("emb_bin"), col("q_bin")))
      .groupBy(col("query_id"))
      .agg(topk_by(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("query_id"),
        posexplode(col("top")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        col("nb.ord").as("cosine"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Scratch dirs whose lifetime is the JVM (lazily-read append
    * indexes): one shutdown hook reaps them all.
    */
  private val reapDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val reapHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      reapDirs.forEach(d => rm(new java.io.File(d)))
    }))
  }
  private def reapOnExit(dir: String): Unit = {
    reapHook
    reapDirs.add(dir): Unit
  }

  /** Content fingerprint of the embeddings source: md5 over every
    * file's (relative path, length, mtime) under the parquet
    * path, in sorted order. Keys the /tmp index cache so a
    * REGENERATED corpus at the same path gets a fresh index instead
    * of silently serving the stale one (data files rewritten ⇒ new
    * mtimes/sizes ⇒ new key).
    */
  private[operators] def sourceFingerprint(path: String): String = {
    // listFiles() is null on permission errors or a dir removed
    // mid-walk — treat as empty rather than NPE.
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    val root = new java.io.File(path)
    walk(root).foreach { f =>
      md.update((s"${f.getPath.stripPrefix(root.getPath)}|${f.length}|" +
        s"${f.lastModified}").getBytes("UTF-8"))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** The cell count the CACHED serving index is built with: the
    * knnGraphIvf auto rule (`max(8, ceil(n / 1024))`, capped). A
    * FIXED count would let E[cell] — and with it every search's
    * candidate volume — grow linearly with the corpus: the r20 probe
    * measured the 40k-query S18 row at 564 s over a stale 8-cell
    * 200k-vector index (25k-member cells) where the auto-sized index
    * bounds it to ~1k-member cells. At the harness correctness
    * scales (≤ 1024 vectors per 0.01 SF) the rule returns exactly
    * the historical 8, so every registered-face value is unchanged
    * where the oracle looks. The parquet count is footer-metadata
    * only; the cell count keys the cache fingerprint so a resized
    * corpus cannot be served a stale-geometry index.
    */
  private[graft] def autoCells(n: Long): Int = {
    // overflow-safe ceil: (n + 1023) wraps negative at Long.MaxValue
    // and the max() would silently hand a planet-sized corpus 8
    // cells (caught by the spec pin on first run)
    val ceil = n / 1024 + (if (n % 1024 == 0) 0L else 1L)
    math.min(math.max(8L, ceil), 1L << 20).toInt
  }

  /** The cell count for a cached index root: when a complete cache
    * dir `<name>-c<cells>-<fp>` ALREADY matches the current content
    * fingerprint, its embedded cell count IS autoCells(n) for this
    * content (the fingerprint pins the files, the files pin n), so
    * the serve path skips the per-invocation count() job — one fewer
    * Spark job on every warm search (r21: the count job + its
    * scheduling overhead was the change-coupled part of the
    * ann_ivf_indexed 0.45 → 0.66 s regression the r20 verdict
    * flagged). Cold path (no matching dir) still counts and builds.
    * CAVEAT, accepted: a change to the [[autoCells]] RULE alone (same
    * corpus bytes) would keep serving the old geometry until the
    * content fingerprint moves — the same staleness class every
    * fingerprint-keyed artifact carries; bump the cache root on a
    * rule change.
    */
  private def cellsFor(spark: SparkSession, sfDir: String,
      root: java.io.File, fp: String): Int = {
    val name = new java.io.File(sfDir).getName
    val pat = ("^" + java.util.regex.Pattern.quote(name) +
      "-c(\\d+)-" + java.util.regex.Pattern.quote(fp) + "$").r
    Option(root.listFiles()).getOrElse(Array.empty)
      .flatMap(f => pat.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .headOption
      .getOrElse(autoCells(embeddings(spark, sfDir).count()))
  }

  /** The serving index every registered cached IVF face searches:
    * persisted once per input dir (the realMediaTable cache convention
    * — production reads an index that already exists) and loaded from
    * the artifact. The cache key includes a CONTENT fingerprint of the
    * embeddings parquet (sizes + mtimes), so regenerating the corpus
    * under the same path invalidates the cached index; the build lands
    * in a temp dir and is renamed into place atomically, so a
    * concurrent process either sees the complete index or builds its
    * own. The root is the one the packed cell-list format has always
    * used, so a cache dir holding the retired array format is never
    * read.
    */
  private def indexFor(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val root = new java.io.File("/tmp/graft_ivfpk_cache")
    val fp = sourceFingerprint(s"$sfDir/embeddings.parquet")
    val cells = cellsFor(spark, sfDir, root, fp)
    val cache = ArtifactCache.ensure(
      root,
      new java.io.File(sfDir).getName,
      s"c$cells-" + fp,
      c => new java.io.File(c, "assigned/_SUCCESS").exists())(
      tmp => saveIvfIndex(spark, sfDir, tmp.toString, nCells = cells))
    loadIvfIndex(spark, cache.toString)
  }

  /** Registered `ann_ivf_indexed` and `ann_ivf_indexed_packed` (two
    * keys, one index): the cached index searched with the corpus
    * prefix as queries. Rows-only (float cosine ranks, the ann family
    * reasoning); SimilaritySpec pins it bit-equal to [[annIvf]].
    */
  def annIvfIndexedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (centroids, assigned) = indexFor(spark, sfDir)
    annIvfIndexed(centroids, assigned)
  }

  /** Registered `ann_ivf_search_packed`: the S18 batch face over the
    * cached index — every fifth corpus vector (vec_id % 5 == 2) as the
    * query batch, so the row exercises a query table an order of
    * magnitude past the prefix face's nQueries=10. Rows-only (float
    * cosine ranks).
    */
  def annIvfSearchQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (centroids, assigned) = indexFor(spark, sfDir)
    annIvfSearch(centroids, assigned,
      assigned.filter(col("vec_id") % 5 === 2)
        .select(col("vec_id").as("query_id"),
          col("emb_bin").as("q_bin")))
  }

  /** Bounded centroid export for the stream-side probe step (the
    * nbModel budget convention: centroids are the ONLY collected
    * piece — the assignment lists stay distributed).
    */
  def ivfCentroidsExport(centroids: DataFrame,
      maxCells: Int = 4096): Array[(Long, Array[Double])] = {
    val n = centroids.count()
    require(n <= maxCells,
      s"IVF centroid export: $n cells exceeds maxCells=$maxCells — " +
        "raise the budget explicitly rather than silently truncating")
    import centroids.sparkSession.implicits._
    centroids.select(col("cell_id"), col("c_emb"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => (id, e.toArray) }
      .sortBy(_._1)
  }

  /** Lloyd's k-means on the driver-broadcast pattern: assignment is a
    * distributed crossJoin(broadcast(centroids)) + max_by, the update
    * step aggregates per-dimension means with
    * `array_agg`-free posexplode (cell, dim, value) — one shuffle of
    * SAMPLE·dim scalars per iteration (round 1 shuffled the whole
    * corpus per iteration, the weak point at 100 TB); centroids
    * (nCells·dim doubles) are the only driver traffic. The fit sample
    * is deterministic (md5-hash-ordered top-`sampleSize`, executed as
    * TakeOrderedAndProject — partial top-K per partition, no global
    * sort), so the fit cost is independent of corpus size; the full
    * corpus is touched only by the single assignment pass in annIvf.
    * At test SFs (≤ 2000 vectors) the sample IS the corpus, so the
    * recall spec measures the same centroids as a full fit.
    */
  private def fitCentroids(spark: SparkSession,
      emb: DataFrame, nCells: Int, iters: Int,
      sampleSize: Int = 4096): DataFrame = {
    import spark.implicits._
    // r21: the fit sample is MATERIALIZED once before the loop — the
    // unmaterialized plan re-ran the corpus-wide TakeOrdered sample
    // scan inside EVERY iteration's assignment job (iters× corpus
    // scans for a ≤ sampleSize·dim·8-byte frame; guide §1.2 "don't
    // compute things you throw away"). Bounded executor storage, the
    // Lineage knob applies as everywhere.
    val fitSet = graft.plans.Lineage.truncate(emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleSize)
      .select(col("vec_id"), col("emb")))
    var centroids = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell_id"), col("emb").as("c_emb"))
    var it = 0
    while (it < iters) {
      val assigned = fitSet.crossJoin(broadcast(centroids))
        .withColumn("cdist", cosineAny(col("emb"), col("c_emb")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cell_id"), struct(col("cdist"), -col("cell_id")))
          .as("cell_id"), first(col("emb")).as("emb"))
      val updated = assigned
        .select(col("cell_id"), posexplode(col("emb")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cell_id"),
          transform(col("pm"), x => x.getField("m")).as("c_emb"))
      // small: nCells rows; materialize to the driver and back so the
      // next iteration's plan doesn't recompute the whole lineage
      val rows = updated.as[(Long, Seq[Double])].collect().toSeq
      centroids = rows.toDF("cell_id", "c_emb")
      it += 1
    }
    centroids
  }

  /** D5 — embedding-cosine near-dup pairs: simJoin at a high
    * threshold, emitting only the id pairs a dedup pipeline would
    * collapse. This label-blocked form is the ORACLE-CHECKABLE
    * verifier (exact, DuckDB-expressible); the production route at
    * scale is [[simJoinLsh]], whose recall against this verifier is
    * spec'd ≥ 0.9 — at 100× data the label blocks grow quadratically
    * while the LSH buckets stay bounded.
    */
  def dedupEmbedding(spark: SparkSession, sfDir: String,
      threshold: Double = 0.45): DataFrame =
    simJoin(spark, sfDir, threshold)

  /** S9 — symmetric int8 EMBEDDING QUANTIZATION (the storage/serving
    * compression step: 4 bytes/dim float32 → 1 byte/dim, 4× smaller
    * shuffles and ANN working sets; dequantize is q·scale/127).
    * Per-vector absmax scaling, half-up rounding via
    * `floor(x/scale·127 + 0.5)` — floor on doubles is exact in every
    * engine, so unlike typical float quantizers the codes are
    * engine-reproducible; the driver-checked query is
    * [[embedQuantizeRows]] (the exploded scalar shape), which
    * hash-matches DuckDB code-for-code. Pure projection (two HOF
    * passes per row), zero shuffles at 100 TB.
    */
  private def quantized(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", {
        val m = array_max(transform(col("v"), x => abs(x)))
        when(m === lit(0.0), lit(1.0)).otherwise(m)
      })
      .select(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          floor(x / col("scale") * lit(127.0) + lit(0.5)).cast("int"))
          .as("q"))

  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame =
    quantized(spark, sfDir).orderBy(col("vec_id"))

  /** S9's CHECKED projection: [[embedQuantize]]'s codes as one
    * `(vec_id, scale, pos, q)` row per dimension (`pos` 1-based,
    * matching DuckDB `generate_subscripts`). Same codes, scalar
    * columns only — the array form crashes the driver harness's
    * pandas canonicalization (`sort_values` over an `array<int>`
    * column throws "unhashable type: numpy.ndarray"), so the
    * registered query ships this shape and the array-valued
    * [[embedQuantize]] stays the library API for downstream ANN use.
    *
    * Shape note (measured at the 100× probe): the explode targets the
    * RAW vector attribute and computes each code on the exploded
    * SCALAR. Posexploding the transform-built code array instead
    * trips the alias-substitution trap (SURVEY §8): Generate's
    * implicit `size>0 AND isnotnull` predicate is pushed below the
    * projection with the code-array transform AND the scale
    * `array_max(transform)` (twice — once per CASE branch)
    * substituted in, so the whole interpreted HOF chain re-runs per
    * row inside a Filter under the scan, again in the now-uncodegen'd
    * Projects, and the sort's range-sampling pass doubles all of it:
    * 171.7 s vs 10.6 s for identical output. PlanAuditSpec now lints
    * the whole query surface for HOFs inside Filters.
    */
  def embedQuantizeRows(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", {
        val m = array_max(transform(col("v"), x => abs(x)))
        when(m === lit(0.0), lit(1.0)).otherwise(m)
      })
      .select(col("vec_id"), col("scale"), posexplode(col("v")))
      .select(col("vec_id"), col("scale"),
        (col("pos") + lit(1)).as("pos"),
        floor(col("col") / col("scale") * lit(127.0) + lit(0.5))
          .cast("int").as("q"))
      .orderBy(col("vec_id"), col("pos"))

  /** S11 — RANDOM SIGN PROJECTION (Achlioptas-style ±1
    * Johnson-Lindenstrauss): project `dIn`-dim embeddings to `dOut`
    * signed sums `p[j] = Σᵢ s(j,i)·x[i]` — the dimensionality-cut a
    * pipeline runs before LSH banding or coarse clustering when dim
    * is large. The uniform 1/√dOut JL scale is OMITTED on purpose:
    * cosine similarity is scale-invariant, so downstream ANN over the
    * raw sums is identical, and the output stays EXACT.
    *
    * Oracle-exactness: each x[i] enters as its DECIMAL(18,4) unscaled
    * long ([[graft.functions.CentroidKernels.dec4Scaled]] — the same
    * rounding DuckDB's decimal cast applies, the k-means precedent),
    * the signs are ±1, so every projected coordinate is an INTEGER
    * sum (order-free, engine-reproducible bit-for-bit) emitted as
    * `p_scaled` = 10⁴·projection. The sign matrix is public
    * randomness both engines derive identically: s(j,i) = +1 iff the
    * first hex digit of md5("j_i") is even — dOut×dIn digests
    * computed ONCE on the driver (≈1k entries), never per row.
    *
    * Scale shape: ONE typed flatMap scan (dOut longs out per vector,
    * a dIn/dOut-× shrink of what ANN shuffles downstream), no
    * joins, no shuffles before the oracle-query sort. Scale contract:
    * |Σ| < 2⁶³ needs dIn·max|x| < 9·10¹⁴ — any real embedding scale.
    */
  def embedProject(spark: SparkSession, sfDir: String,
      dOut: Int = 16, dIn: Int = 64): DataFrame = {
    require(dOut > 0 && dOut <= 4096, s"dOut out of range: $dOut")
    require(dIn > 0 && dIn <= 65536, s"dIn out of range: $dIn")
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: Array[Array[Long]] = Array.tabulate(dOut) { j =>
      Array.tabulate(dIn) { i =>
        val d = md.digest(s"${j}_${i}".getBytes("UTF-8"))
        // first hex digit = high nibble of byte 0; even → +1
        if ((((d(0) >> 4) & 0xf) & 1) == 0) 1L else -1L
      }
    }
    embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        require(emb.length == dIn,
          s"vec $id has dim ${emb.length}, expected $dIn")
        val v = new Array[Long](dIn)
        var i = 0
        while (i < dIn) {
          v(i) = graft.functions.CentroidKernels.dec4Scaled(emb(i).toDouble)
          i += 1
        }
        (0 until dOut).iterator.map { j =>
          val s = signs(j)
          var acc = 0L
          var t = 0
          while (t < dIn) { acc += s(t) * v(t); t += 1 }
          (id, j, acc)
        }
      }
      .toDF("vec_id", "dim", "p_scaled")
      .orderBy(col("vec_id"), col("dim"))
  }

  /** S6 — Product-Quantization ANN (ADC scan + exact re-rank): the
    * memory-side scale path. IVF prunes WHICH vectors a query
    * touches; PQ shrinks WHAT each touched vector costs — `nSub`
    * codes per vector (nSub·log₂(ks) bits ≈ 8 bytes at the defaults)
    * instead of dim floats, a 32× memory cut at dim 64, so a
    * 100 TB corpus' codes fit where its raw vectors cannot.
    *
    * Shape: per-subspace k-means codebooks fit ON THE DRIVER over
    * the same bounded md5-deterministic sample as the IVF fit (≤
    * sampleSize·dim doubles — the documented sanctioned collect);
    * corpus encoding is one distributed typed map (normalize, per
    * subspace nearest centroid by L2); queries become per-query
    * dot-product lookup tables (nQueries·nSub·ks doubles, broadcast);
    * the ADC scan is a codes-only flatMap — Σ table lookups per
    * (vector, query), no floats shuffled — and only the `k·refine`
    * shortlist per query is re-ranked with exact cosine against the
    * raw vectors (broadcast shortlist join: the corpus side never
    * shuffles). Rows-only: recall vs brute force is spec'd.
    */
  def annPq(spark: SparkSession, sfDir: String,
      nSub: Int = 8, ks: Int = 16, k: Int = 5, nQueries: Int = 10,
      refine: Int = 20, lloydIters: Int = 3,
      sampleSize: Int = 4096): DataFrame = {
    import spark.implicits._
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))

    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else { val o = new Array[Double](v.length)
        i = 0; while (i < v.length) { o(i) = v(i) / n; i += 1 }; o }
    }

    // bounded deterministic fit sample (normalized: cosine becomes
    // inner product, so L2 sub-quantizers + dot tables are coherent)
    val sample = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleSize)
      .select(col("emb")).as[Seq[Float]].collect()
      .map(v => normalize(v.toArray.map(_.toDouble)))
    require(sample.nonEmpty, "no vectors to fit PQ codebooks on")
    val dim = sample.head.length
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val subDim = dim / nSub

    def sub(v: Array[Double], s: Int): Array[Double] =
      java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nearest(cb: Array[Array[Double]], x: Array[Double]): Int = {
      var best = 0; var bd = Double.MaxValue; var j = 0
      while (j < cb.length) {
        val d = l2(cb(j), x); if (d < bd) { bd = d; best = j }; j += 1
      }
      best
    }

    // per-subspace Lloyd on the sample: deterministic init (first ks
    // DISTINCT subvectors), empty cells keep their previous centroid
    val codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(nSub) { s =>
        val xs = sample.map(sub(_, s))
        val init = scala.collection.mutable.ArrayBuffer[Array[Double]]()
        var i = 0
        while (init.length < ks && i < xs.length) {
          if (!init.exists(c => java.util.Arrays.equals(c, xs(i))))
            init += xs(i)
          i += 1
        }
        while (init.length < ks) init += init(init.length % math.max(init.length, 1)).clone()
        var cb = init.toArray
        var it = 0
        while (it < lloydIters) {
          val sums = Array.fill(ks)(new Array[Double](subDim))
          val counts = new Array[Long](ks)
          xs.foreach { x =>
            val c = nearest(cb, x)
            counts(c) += 1
            var d = 0; while (d < subDim) { sums(c)(d) += x(d); d += 1 }
          }
          cb = Array.tabulate(ks) { c =>
            if (counts(c) == 0L) cb(c)
            else { val m = new Array[Double](subDim)
              var d = 0
              while (d < subDim) { m(d) = sums(c)(d) / counts(c); d += 1 }
              m }
          }
          it += 1
        }
        cb
      }
    val cbB = spark.sparkContext.broadcast(codebooks)
    val nSubL = nSub

    // distributed encode: codes only — nSub small ints per vector
    val codes = emb.as[(Long, Seq[Float])].map { case (id, v) =>
      val x = normalize(v.toArray.map(_.toDouble))
      val cb = cbB.value
      val cs = new Array[Int](nSubL)
      var s = 0
      while (s < nSubL) {
        cs(s) = nearest(cb(s), java.util.Arrays.copyOfRange(
          x, s * (x.length / nSubL), (s + 1) * (x.length / nSubL)))
        s += 1
      }
      (id, cs.toSeq)
    }.toDF("vec_id", "codes")

    // query lookup tables: LUT(q)(s)(j) = <q_s, c_{s,j}>, so the ADC
    // score Σ_s LUT(q)(s)(code_s) ≈ cosine(q, x) on normalized vectors
    val queriesRaw = emb.filter(col("vec_id") < nQueries)
      .as[(Long, Seq[Float])].collect()
    val luts: Array[(Long, Array[Array[Double]])] = queriesRaw.map {
      case (qid, v) =>
        val q = normalize(v.toArray.map(_.toDouble))
        qid -> Array.tabulate(nSub, ks)((s, j) =>
          dotd(sub(q, s), codebooks(s)(j)))
    }
    val lutB = spark.sparkContext.broadcast(luts)

    val shortN = k * refine
    val approx = codes.as[(Long, Seq[Int])].flatMap { case (id, csSeq) =>
      val cs = csSeq.toArray
      lutB.value.iterator.filter(_._1 != id).map { case (qid, lut) =>
        var s = 0; var acc = 0.0
        while (s < cs.length) { acc += lut(s)(cs(s)); s += 1 }
        (qid, id, acc)
      }
    }.toDF("query_id", "vec_id", "approx")
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val shortlist = approx
      .withColumn("arnk", row_number().over(wA))
      .filter(col("arnk") <= shortN)
      .select(col("query_id"), col("vec_id"))

    // exact re-rank: shortlist (nQueries·k·refine rows) broadcasts;
    // the corpus side never shuffles; cosine over the RAW vectors
    // (normalization-invariant). r20: the query vectors broadcast as
    // PACKED blobs (4·dim bytes, no per-element offsets) and the
    // re-rank is the fused one-pass blob×array kernel — bit-equal to
    // cosineAny(emb, q_emb) because IEEE multiplication commutes
    // (ab and the sqrt product are the same folds with the operand
    // roles swapped; SimilaritySpec pins the face unchanged)
    val qdf = queriesRaw.toSeq.map { case (qid, v) =>
      (qid, graft.functions.PackedVectorKernels.packArray(v.toArray))
    }.toDF("query_id", "q_bin")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    emb.join(broadcast(shortlist), "vec_id")
      .join(broadcast(qdf), "query_id")
      .withColumn("cosine", cosinePackedAny(col("q_bin"), col("emb")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** S15 — CORPUS k-NN GRAPH: every vector's k nearest OTHERS,
    * ranked — the all-vectors self-retrieval behind SemDeDup-style
    * graph clustering, dataset cartography and duplicate-cluster
    * diagnostics (every published embedding-curation pipeline builds
    * one; the per-query faces S1/S2/S3 answer external queries, this
    * answers "who neighbors whom inside the corpus").
    *
    * EXACT VERIFIER (this method): all-pairs cosine with the
    * neighbor side broadcast — quadratic pair volume, so `maxRows`
    * fails fast with the redirect to [[knnGraphIvf]], the production
    * path. Rank order (cosine DESC, neighbor_id) is the library-wide
    * ANN tie rule, so the IVF face's hits are spec'd bit-equal on
    * the cells it probes.
    */
  def knnGraph(spark: SparkSession, sfDir: String,
      k: Int = 5, maxRows: Long = 100000): DataFrame = {
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    val n = emb.count()
    require(n <= maxRows,
      s"knnGraph is the quadratic exact VERIFIER ($n rows > " +
        s"maxRows=$maxRows): use Similarity.knnGraphIvf for corpus-" +
        "scale k-NN graphs, or raise maxRows deliberately")
    // r20 optimization round (bit-identical rows, measured 5.1 s →
    // 0.65 s at sf0.1): spread the stream side (one small parquet
    // file scans as ONE partition, so the n² pair loop ran on one
    // core — guide §2.5), compute each side's norm once per row
    // instead of once per pair (cosineAny re-derives both self-dots
    // per pair — 3× the kernel flops), and rank with the R26 bounded
    // heap instead of a window sort of the full pair stream (same
    // (cosine DESC, neighbor_id ASC) tie rule).
    import graft.functions.AggFunctions.topk_by
    val right = emb.select(col("vec_id").as("neighbor_id"),
      col("emb").as("n_emb"), normAny(col("emb")).as("n_nrm"))
    graft.plans.Spread.spreadIfNarrow(emb)
      .select(col("vec_id"), col("emb"), normAny(col("emb")).as("nrm"))
      .crossJoin(broadcast(right))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotAny(col("emb"), col("n_emb")) /
        (col("nrm") * col("n_nrm")))
      .groupBy(col("vec_id"))
      .agg(topk_by(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "nb")))
      .select(col("vec_id"), col("nb.id").as("neighbor_id"),
        col("nb.ord").as("cosine"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** S15 production path — the IVF-BUCKETED k-NN graph: fit
    * centroids once (the S3 bounded-sample fit), assign the corpus,
    * then every vector probes its `nProbe` nearest cells and ranks
    * only those cells' members. Candidate volume per vector is
    * nProbe · E[cell] (bounded by the fit's target populations)
    * instead of n, and the only corpus-sized shuffle is the
    * candidates' cell_id equi-join — at 100 TB the graph build is
    * #vectors · nProbe · E[cell] dot products spread over the
    * cluster, never n². Rows-only (recall vs [[knnGraph]] spec'd in
    * SimilaritySpec; probed-cell hits are bit-equal by the shared
    * tie rule).
    *
    * `nCells = 0` (the default) auto-scales like Clustering.AutoK:
    * `max(8, ceil(n / targetCell))` from a count-only scan — a FIXED
    * cell count would let E[cell] (and with it every vector's
    * candidate list) grow linearly with the corpus, turning the
    * graph build quadratic again at 100×.
    */
  def knnGraphIvf(spark: SparkSession, sfDir: String,
      k: Int = 5, nCells: Int = 0, nProbe: Int = 2,
      lloydIters: Int = 2, targetCell: Int = 1024): DataFrame = {
    require(targetCell > 0, s"targetCell must be > 0: $targetCell")
    val emb = embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").as("emb"))
    val cells =
      if (nCells > 0) nCells
      else {
        val n = emb.count()
        math.min(math.max(8L, (n + targetCell - 1) / targetCell),
          1 << 20).toInt
      }
    val centroids = fitCentroids(spark, emb, cells, lloydIters)
    // the assignment pass packs each vector into its float32 blob
    // ONCE (the S16 store on the graph build's hot path), so the
    // checkpointed blocks, the vector-vs-centroid probe pass and the
    // corpus-sized cell_id equi-join all carry the 4·dim-byte blob and
    // the candidate scoring runs the fused one-pass kernels — bit-equal
    // to the array kernels, whose element order they fold in.
    val assigned = indexRows(emb, centroids)
      // one assignment pass feeds both sides (executor-local blocks —
      // see the Pipeline fault-tolerance contract, SURVEY §5)
      .transform(graft.plans.Lineage.truncate(_))
    // every vector is a query: the S18 batch search over the corpus
    // itself (bounded-heap ranks, self-excluded by id)
    annIvfSearch(centroids, assigned,
      assigned.select(col("vec_id").as("query_id"),
        col("emb_bin").as("q_bin")),
      nProbe, k)
      .withColumnRenamed("query_id", "vec_id")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.math.BigDecimal.RoundingMode

import graft.operators.Clustering

/** S7/S8 — the oracle-checked k-means and semantic dedup against an
  * EXACT in-driver recomputation: same seed centroids, same
  * sequential-fold cosine argmax, same decimal-exact mean
  * (valueOf → setScale(4) → sum → setScale(2) → /n, the Tables.davg
  * contract). Doubles are compared with ==, not tolerance — the
  * whole point of the decimal-lattice update is bit-reproducibility.
  */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val K = 8
  private val ITERS = 3

  private lazy val vecs: Array[(Long, Array[Double])] =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def cos(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  private def davgRef(vals: Seq[Double]): Double = {
    val s = vals.map(v =>
      BigDecimal(java.math.BigDecimal.valueOf(v))
        .setScale(4, RoundingMode.HALF_UP)).sum
    s.setScale(2, RoundingMode.HALF_UP).toDouble / vals.size
  }

  private def assignRef(cells: Seq[(Int, Array[Double])],
      v: Array[Double]): (Int, Double) = {
    var best = Double.NegativeInfinity; var bestCell = cells.head._1
    for ((cid, c) <- cells) {
      val cs = cos(v, c)
      if (cs > best) { best = cs; bestCell = cid }
    }
    (bestCell, best)
  }

  /** The full reference fit: (final cells, final assignment). */
  private lazy val reference: Map[Long, (Int, Double)] = {
    var cells: Seq[(Int, Array[Double])] = vecs.filter(_._1 < K)
      .map { case (id, v) => (id.toInt, v) }.toSeq.sortBy(_._1)
    for (_ <- 1 to ITERS) {
      val assigned = vecs.map { case (id, v) =>
        (assignRef(cells, v)._1, v)
      }
      cells = assigned.groupBy(_._1).map { case (cid, members) =>
        val dim = members.head._2.length
        (cid, Array.tabulate(dim)(d =>
          davgRef(members.toSeq.map(_._2(d)))))
      }.toSeq.sortBy(_._1)
    }
    vecs.map { case (id, v) => id -> assignRef(cells, v) }.toMap
  }

  test("embedKmeans matches the exact in-driver Lloyd's fit, bit-for-bit") {
    val got = Clustering.embedKmeans(spark, sf, K, ITERS).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got.size == vecs.length)
    assert(got == reference)
    // the fit genuinely clusters: >1 cell used, no cell dominates
    val sizes = got.values.groupBy(_._1).map(_._2.size)
    assert(sizes.size > 1 && sizes.max < vecs.length)
  }

  test("dedupSemantic == exact within-cluster pairs at the threshold") {
    val thr = 0.45
    val byCell = vecs.map { case (id, v) =>
      (reference(id)._1, id, v)
    }.groupBy(_._1)
    val expected = byCell.values.flatMap { members =>
      for {
        (_, a, va) <- members.toSeq
        (_, b, vb) <- members.toSeq
        if a < b
        c = cos(va, vb)
        if c >= thr
      } yield (a, b, c)
    }.toSet
    val got = Clustering.dedupSemantic(spark, sf, K, ITERS, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "threshold finds no pairs — vacuous test")
  }

  test("semdedupApply == corpus minus union-find losers of the pair list") {
    val pairs = Clustering.dedupSemantic(spark, sf, K, ITERS).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no semantic pairs — vacuous test")
    // independent union-find over the pair list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .filter(x => find(x) != x).toSet
    val all = vecs.map(_._1).toSet
    val got = Clustering.semdedupApply(spark, sf, K, ITERS).collect()
      .map(_.getLong(0)).toSet
    assert(got == all -- losers)
    assert(losers.nonEmpty && got.size < all.size)
  }

  test("embedPruneProto == exact per-cell prototype ranks and integer keep") {
    val (num, den) = (3, 10)
    val expected = reference.toSeq
      .map { case (id, (cell, c)) => (id, cell, c) }
      .groupBy(_._2).flatMap { case (_, members) =>
        val ranked = members.sortBy { case (id, _, c) => (-c, id) }
        val n = ranked.length
        ranked.zipWithIndex.map { case ((id, cell, c), i) =>
          val rank = i + 1
          (id, (cell, c, rank,
            if ((rank - 1) * den >= num * n) 1 else 0))
        }
      }
    val got = Clustering.embedPruneProto(spark, sf, K, ITERS,
        pruneNum = num, pruneDen = den).collect()
      .map(r => (r.getLong(0),
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got.size == vecs.length)
    assert(got == expected.toMap)
    // the paper's contract: each cell prunes exactly ⌈frac·n⌉ of its
    // members — the most prototypical ones — and keeps the rest
    got.toSeq.groupBy(_._2._1).foreach { case (cell, members) =>
      val n = members.length
      val pruned = members.count(_._2._4 == 0)
      assert(pruned == (num * n + den - 1) / den,
        s"cell $cell pruned $pruned of $n at $num/$den")
      val maxPrunedRank = members.filter(_._2._4 == 0).map(_._2._3).max
      val minKeptRank = members.filter(_._2._4 == 1)
        .map(_._2._3).minOption.getOrElse(Int.MaxValue)
      assert(maxPrunedRank < minKeptRank,
        s"cell $cell pruned a less prototypical member than it kept")
    }
    assert(got.values.map(_._4).toSet == Set(0, 1), "keep degenerate")
  }

  test("embedPruneProto plan: rank window is partitioned by cell") {
    val plan = Clustering.embedPruneProto(spark, sf, K, ITERS)
      .queryExecution.executedPlan.toString
    // the Window clauses must carry the cell partition key — an
    // unpartitioned row_number would serialize the corpus through
    // one task at 100 TB
    plan.linesIterator.filter(_.contains("Window")).foreach { l =>
      assert(!l.contains("Window") || plan.contains("cell_id"),
        s"unpartitioned window:\n$plan")
    }
    assert(plan.contains("Window"), s"expected a window plan:\n$plan")
    assert(!plan.contains("Join"), s"join machinery in prune plan:\n$plan")
  }

  test("zero-norm pairs are dropped, matching the DuckDB oracle's NULL cosine") {
    // a corpus with a zero vector: DuckDB's `/` gives NULL for
    // 0.0/0.0 (verified on the harness's 1.0.0) and `WHERE NULL >= t`
    // drops the row — so the parity-correct behavior is to DROP the
    // pair. (Spark's own Column filter would have EMITTED it: doubles
    // give NaN and Spark SQL ranks NaN above any threshold — the old
    // self-join form silently diverged from its oracle here.)
    import spark.implicits._
    val dir = TestDirs.create("zeronorm").toString
    val rows = Seq(
      (0L, "a", Seq(1.0f, 0.0f)), (1L, "a", Seq(0.9f, 0.1f)),
      (2L, "a", Seq(0.0f, 0.0f)))
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Clustering.dedupSemantic(spark, dir, k = 2, iters = 1,
        threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L),
      s"zero-norm pair not dropped: ${got.toSeq}")
    assert(got.forall(p => !p._3.isNaN), s"NaN cosine emitted: ${got.toSeq}")
  }

  test("AutoK sizes k to the corpus and keeps clusters bounded") {
    // 500 vectors / targetCluster 50 → k = ceil(500/50) = 10 seeds;
    // empty cells may drop but the fit must use MORE cells than the
    // k=8 oracle floor and no cell may swallow the corpus
    val got = Clustering.embedKmeans(spark, sf, Clustering.AutoK, ITERS,
      targetCluster = 50).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(got.length == vecs.length, "auto-k dropped vectors")
    val sizes = got.groupBy(_._2).map(_._2.length)
    assert(sizes.size > 8 && sizes.size <= 10,
      s"auto-k should seed 10 cells (got ${sizes.size} non-empty)")
    assert(sizes.max < vecs.length / 2,
      s"a single cell holds ${sizes.max}/${vecs.length} vectors")
    // floor: a tiny corpus stays on the oracle default
    val floor = Clustering.embedKmeans(spark, sf, Clustering.AutoK, ITERS,
      targetCluster = 1000000).collect().map(_.getInt(1)).distinct
    assert(floor.forall(_ < 8), "k floor of 8 not applied")
  }

  test("dedupSemantic plan: embeddings cross at most one shuffle") {
    // one hash exchange into the per-cell groupBy + the output
    // orderBy's range exchange (ids+cosine only). The old self-join
    // shape shuffled the vector column on both join sides.
    val plan = Clustering.dedupSemantic(spark, sf, K, ITERS)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 2, s"$exchanges shuffle exchanges:\n$plan")
    assert(!plan.contains("Join"), s"join machinery returned:\n$plan")
  }

  test("assignment is a projection: centroid kernel, no join, no agg") {
    val plan = Clustering.embedKmeans(spark, sf, K, ITERS)
      .queryExecution.executedPlan.toString
    assert(plan.contains("nearestcell") || plan.contains("NearestCell"),
      s"centroid kernel missing:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"join/agg machinery in the assignment plan:\n$plan")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EmbeddingStore, Similarity}
import graft.functions.VectorFunctions

/** S16 packed embedding store: pack/unpack bit-round-trip, packed
  * cosine bit-equal to the array kernels, the packed brute-force face
  * bit-equal to ann_bruteforce, and the store loader's refusals.
  */
class EmbeddingStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("pack/unpack round-trips every bit of the corpus") {
    val emb = graft.Tables.embeddings(spark, sf)
    val back = EmbeddingStore.unpackEmbeddings(
        EmbeddingStore.packEmbeddings(emb))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val orig = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    assert(orig.nonEmpty && back.keySet == orig.keySet)
    orig.foreach { case (id, v) =>
      assert(v.length == back(id).length, s"vec $id width")
      v.indices.foreach { i =>
        // bit comparison, not ==: NaN != NaN but pack preserves bits
        assert(java.lang.Float.floatToIntBits(v(i)) ==
          java.lang.Float.floatToIntBits(back(id)(i)),
          s"vec $id dim $i drifted")
      }
    }
  }

  test("cosinePacked is bit-identical to the array-face cosineAny") {
    // adversarial values: subnormals, negatives, mixed signs. A
    // zero-norm vector is deliberately absent: under ANSI mode the
    // array face THROWS on the 0/0 (Divide), where the packed kernel
    // (a JVM double division) returns NaN — both refuse to emit a
    // number, but only non-degenerate cosines can be compared
    // bit-for-bit (documented on CosinePacked)
    val rows = Seq(
      (1L, Array(0.5f, -1.25f, 3.0f)),
      (2L, Array(1e-30f, 2e-38f, -1e-30f)),
      (4L, Array(7.125f, 0.875f, -2.5f)))
    val df = rows.toDF("vec_id", "emb")
      .withColumn("bin", VectorFunctions.packFloats(col("emb")))
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(
        VectorFunctions.cosineAny(col("a.emb"), col("b.emb")).as("c_arr"),
        VectorFunctions.cosinePacked(col("a.bin"), col("b.bin")).as("c_bin"))
      .collect()
    assert(pairs.length == rows.length * rows.length)
    pairs.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("packed brute-force search is bit-equal to ann_bruteforce") {
    // the 64-dim corpus, and the same vectors tiled to 256 dims with a
    // per-tile shift (distinct widths exercise the kernels' loop tails
    // and the store at a realistic embedding width)
    val wide = TestDirs.create("graft_dim256").toString
    graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, lab, v) =>
        (id, lab, Array.tabulate(256)(i => v(i % 64) + (1 + i / 64) * 1e-4f))
      }
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$wide/embeddings.parquet")
    Seq(sf -> 64, wide -> 256).foreach { case (corpus, dim) =>
      val dir = TestDirs.create("graft_packed_store").toString
      EmbeddingStore.saveEmbeddingStore(spark, corpus, dir)
      val store = EmbeddingStore.loadEmbeddingStore(spark, dir)
      assert(store.select("dim").distinct().as[Int].collect().toSeq == Seq(dim))
      val packed = EmbeddingStore.annBruteForcePackedOn(store).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      val exact = Similarity.annBruteForce(spark, corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
      assert(exact.nonEmpty, s"dim $dim")
      assert(packed.toSeq == exact.toSeq, s"dim $dim")
    }
  }

  test("registered ann_bruteforce_packed equals ann_bruteforce " +
      "(cache-built store)") {
    val packed = SparkEntry.queries("ann_bruteforce_packed")(spark, sf)
      .collect().map(_.toSeq)
    val exact = SparkEntry.queries("ann_bruteforce")(spark, sf)
      .collect().map(_.toSeq)
    assert(packed.nonEmpty && packed.toSeq == exact.toSeq)
  }

  test("foreign tables refuse at load; mixed dims refuse in the " +
      "kernel and the offline audit") {
    val dir = TestDirs.create("graft_packed_bad").toString
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$dir/foreign")
    val e1 = intercept[IllegalArgumentException] {
      EmbeddingStore.loadEmbeddingStore(spark, s"$dir/foreign")
    }
    assert(e1.getMessage.contains("not a packed embedding store"))
    // width integrity is kernel-carried (no per-load scan — the r19
    // probe measured that scan at ~15% of the registered search):
    // a mixed store LOADS fine, the offline audit refuses it, and a
    // search over it fails loudly on the first cross-width pair
    // instead of silently truncating the dot
    EmbeddingStore.packEmbeddings(
        Seq((1L, "l", Array(1f, 2f)), (2L, "l", Array(1f, 2f, 3f)))
          .toDF("vec_id", "label", "embedding"))
      .write.parquet(s"$dir/mixed")
    val mixed = EmbeddingStore.loadEmbeddingStore(spark, s"$dir/mixed")
    val e2 = intercept[IllegalArgumentException] {
      EmbeddingStore.validateStore(mixed)
    }
    assert(e2.getMessage.contains("mixed-dim"))
    val e3 = intercept[Exception] {
      EmbeddingStore.annBruteForcePackedOn(mixed, nQueries = 2, k = 1)
        .collect()
    }
    val chain = Iterator.iterate(e3: Throwable)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString(" <- ")
    assert(chain.contains("width mismatch"), chain.take(300))
  }

  test("cosinePackedAny is bit-identical to the array face on float " +
      "and double right sides, including the swapped-operand shape") {
    val vs = Seq(
      (1L, Array(0.5f, -1.25f, 3.0f)),
      (2L, Array(1e-30f, 2e-38f, -1e-30f)),
      (3L, Array(7.125f, 0.875f, -2.5f)))
    val df = vs.toDF("vec_id", "emb")
      .withColumn("bin", VectorFunctions.packFloats(col("emb")))
      .withColumn("embd", col("emb").cast("array<double>"))
    def bits(c: org.apache.spark.sql.Column) = df.as("a")
      .crossJoin(df.as("b")).select(c.as("c")).collect()
      .map(r => java.lang.Double.doubleToLongBits(r.getDouble(0))).toSeq
    // blob x array<float> == cosineAny on the raw arrays
    assert(bits(VectorFunctions.cosinePackedAny(col("a.bin"),
        col("b.emb"))) ==
      bits(VectorFunctions.cosineAny(col("a.emb"), col("b.emb"))))
    // blob x array<double> (the IVF centroid shape)
    assert(bits(VectorFunctions.cosinePackedAny(col("a.bin"),
        col("b.embd"))) ==
      bits(VectorFunctions.cosineAny(col("a.emb"), col("b.embd"))))
    // the annPq re-rank shape: cosinePackedAny(q_bin, emb) must equal
    // cosineAny(emb, q_emb) — IEEE multiplication commutes, so the
    // swapped operand roles fold to the same bits
    assert(bits(VectorFunctions.cosinePackedAny(col("b.bin"),
        col("a.emb"))) ==
      bits(VectorFunctions.cosineAny(col("a.emb"), col("b.emb"))))
  }

  test("misaligned blobs refuse by name — equal lengths do not " +
      "license a truncated dot") {
    // the r19 ADVICE finding: two 7-byte blobs pass a length-equality
    // check, but n = length >> 2 silently drops 3 trailing bytes —
    // refuse on alignment BEFORE the width comparison, in both the
    // pair kernels and unpack
    import graft.functions.PackedVectorKernels
    val bad = Array.fill[Byte](7)(1)
    for (f <- Seq[(Array[Byte], Array[Byte]) => Any](
        PackedVectorKernels.dotBB, PackedVectorKernels.cosineBB)) {
      val e = intercept[IllegalArgumentException](f(bad, bad))
      assert(e.getMessage.contains("not a multiple of 4"), e.getMessage)
    }
    val e2 = intercept[IllegalArgumentException](
      PackedVectorKernels.unpack(bad))
    assert(e2.getMessage.contains("not a multiple of 4"))
    // aligned blobs still flow
    val ok = PackedVectorKernels.pack(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(1f, 2f)))
    assert(PackedVectorKernels.dotBB(ok, ok) == 5.0)
  }

  test("ArtifactCache GCs stale fingerprint siblings and aged " +
      "orphan builds; the live cache and young builds survive") {
    import graft.operators.ArtifactCache
    val root = TestDirs.create("graft_cache_gc").toFile
    def mk(name: String, ageMs: Long = 0L): java.io.File = {
      val d = new java.io.File(root, name)
      assert(d.mkdirs())
      val f = new java.io.File(d, "payload")
      assert(f.createNewFile())
      if (ageMs > 0) {
        assert(d.setLastModified(System.currentTimeMillis() - ageMs))
      }
      d
    }
    mk("corpus-oldfp1")          // stale sibling: same corpus, old fp
    mk("other-fp")               // different corpus: must survive
    mk(".build-dead", 25L * 3600 * 1000) // crashed build, >24h old
    val young = mk(".build-live")        // concurrent build: survives
    var built = 0
    val cache = ArtifactCache.ensure(root, "corpus", "newfp",
      c => new java.io.File(c, "_SUCCESS").exists()) { tmp =>
      built += 1
      assert(tmp.mkdirs())
      assert(new java.io.File(tmp, "_SUCCESS").createNewFile())
    }
    assert(built == 1 && new java.io.File(cache, "_SUCCESS").exists())
    val names = root.listFiles().map(_.getName).toSet
    assert(names == Set("corpus-newfp", "other-fp", young.getName),
      names.toString)
    // second call: complete cache short-circuits (no rebuild, no GC)
    ArtifactCache.ensure(root, "corpus", "newfp",
      c => new java.io.File(c, "_SUCCESS").exists()) { _ =>
      built += 1
    }
    assert(built == 1)
    ArtifactCache.rm(root)
  }
}

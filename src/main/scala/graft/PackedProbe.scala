package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dotAny, dotPacked}
import graft.operators.{EmbeddingStore, Similarity}

/** Read-path A/B for the S16 packed embedding store (the r18
  * verdict's #2): at realistic embedding dims (256+) parquet
  * per-element list decode dominates ANN scans — this main builds a
  * dim-`dim` corpus from the sf0.1 embeddings (each 64-dim vector
  * tiled up with deterministic per-(copy, tile) perturbations, ids
  * replica-shifted exactly like tools/make_probe.py), persists it in
  * BOTH storage faces (array<float> parquet and the packed binary
  * store), and times the same computations over each, interleaved in
  * one session so host drift cannot masquerade as a storage effect:
  *
  *  - `scan_selfdot_*`: sum of self-dots — one pass, 1 dot/row, the
  *    scan-bound face where decode cost is the whole story;
  *  - `ann_bruteforce_*`: the S1 top-k (10 queries × k=5) — the
  *    compute-heavy face (30 dot-passes/row), bounding how much of a
  *    real ANN query the read path can win;
  *  - `packed_equals_array`: asserts the two brute-force results are
  *    BIT-equal (the EmbeddingStoreSpec contract, re-checked at every
  *    probe dim/scale).
  *
  * Output: one JSON line per row, `tools/probe_merge.py`-compatible.
  * Usage: runMain graft.PackedProbe [copies] [dim]   (default 100 256)
  */
object PackedProbe {
  def main(args: Array[String]): Unit = {
    val copies = if (args.length > 0) args(0).toInt else 100
    val dim = if (args.length > 1) args(1).toInt else 256
    require(copies >= 1 && dim >= 1 && dim % 64 == 0,
      s"copies >= 1 and dim a multiple of 64 required: $copies, $dim")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(GraftSession.codegenConf)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val src = "/root/testdata/sf0.1"
    // dir keyed by (dim, copies): a flag at a shared path would serve
    // stale data when the same dim is probed at two scales
    val out = s"/tmp/sfdim${dim}_c$copies"
    val arrayPath = s"$out/embeddings.parquet"
    val packedPath = s"$out/packed.parquet"

    if (!new java.io.File(s"$out/_built").exists()) {
      val base = Tables.embeddings(spark, src)
        .select(col("vec_id"), col("embedding"), col("label"))
        .as[(Long, Array[Float], String)].collect()
      val nVec = base.map(_._1).max + 1
      val tiles = dim / 64
      val big = spark.sparkContext
        .parallelize(base.toIndexedSeq, 16)
        .flatMap { case (id, v, lab) =>
          (0 until copies).iterator.map { k =>
            val w = new Array[Float](dim)
            var i = 0
            while (i < dim) {
              // tile the 64-dim payload across the width with a
              // deterministic per-(copy, tile) shift: byte-distinct
              // replicas, near-parallel directions — the make_probe
              // --perturb convention at higher dim
              w(i) = v(i % 64) + ((k % 13) + 1 + (i / 64)) * 1e-4f
              i += 1
            }
            (id + nVec * k, w, lab)
          }
        }
        .toDF("vec_id", "embedding", "label")
      big.repartition(16).write.mode("overwrite").parquet(arrayPath)
      EmbeddingStore.packEmbeddings(
          spark.read.parquet(arrayPath))
        .repartition(16).write.mode("overwrite").parquet(packedPath)
      new java.io.File(out, "_built").createNewFile(): Unit
      println(s"""{"built":"$out","copies":$copies,"dim":$dim,""" +
        s""""tiles":$tiles}""")
    }

    val arrayDf = spark.read.parquet(arrayPath)
    val store = EmbeddingStore.loadEmbeddingStore(spark, packedPath)

    // pre-fault both corpora (the Probe convention: measure the
    // engine, not the disk)
    arrayDf.queryExecution.toRdd.count()
    store.queryExecution.toRdd.count()

    def timed(name: String, reps: Int)(mk: () => DataFrame): Unit = {
      var best = Double.MaxValue
      var rows = -1L
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        rows = mk().queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best) best = sec
        r += 1
      }
      println(f"""{"query":"$name","sec":$best%.2f,"rows":$rows""" +
        f""","dim":$dim,"copies":$copies}""")
    }

    // interleaved: array face then packed face, 3 reps each, min —
    // same session, same page cache, same JIT state
    timed(s"scan_selfdot_array_dim$dim", 3)(() =>
      arrayDf.agg(sum(dotAny(col("embedding"), col("embedding")))
        .as("s")))
    timed(s"scan_selfdot_packed_dim$dim", 3)(() =>
      store.agg(sum(dotPacked(col("emb_bin"), col("emb_bin")))
        .as("s")))
    timed(s"ann_bruteforce_array_dim$dim", 3)(() =>
      Similarity.annBruteForce(spark, out))
    timed(s"ann_bruteforce_packed_dim$dim", 3)(() =>
      EmbeddingStore.annBruteForcePackedOn(store))

    // the bit-equality contract, re-checked at probe scale
    val a = Similarity.annBruteForce(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
    val p = EmbeddingStore.annBruteForcePackedOn(store).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
    val equal = a.toSeq == p.toSeq && a.nonEmpty
    println(s"""{"query":"packed_equals_array","sec":0.0,""" +
      s""""rows":${if (equal) a.length else -1},"dim":$dim,""" +
      s""""copies":$copies}""")
    require(equal, "packed brute-force drifted from the array face")
    spark.stop()
  }
}

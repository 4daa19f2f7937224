package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.embeddings
import graft.functions.VectorFunctions.{cosinePacked, packFloats, unpackFloats}

/** S16 — PACKED EMBEDDING STORE: the fixed-width storage face of the
  * embedding corpus (the r18 verdict's #2). A vector persists as ONE
  * little-endian float32 blob (`binary`, 4·dim bytes) instead of
  * `array<float>`.
  *
  * Measured story, two rounds of it (PROBE_r19_packed_AB.jsonl and
  * PROBE_r20_packed_AB.jsonl, both faces at dims 64 to 1024): the r18
  * design hypothesis was "parquet per-element list decode dominates
  * at high dim"; r19 half-refuted it — Spark's vectorized reader
  * serves `array<float>` elements as zero-copy views, and the r19
  * packed scan LOST the 2M×256 scan-once face (1.12 s vs 0.58 s),
  * which that round's doc attributed to per-row byte[]
  * materialization. r20 re-attributed it by fixing the kernels: the
  * loss was the shift-based byte decode (4 loads + 3 shift-ors per
  * element), not the allocation — with single `Platform` loads the
  * packed store wins EVERY measured face at every dim in-session:
  * scan-selfdot 0.13/0.20/0.29 s vs array 0.17/0.22/0.40 s at dims
  * 64/256/1024 (200k rows) and 0.52 vs 0.65 s at 2M×256;
  * brute-force search 0.50/0.74/1.12 s vs 0.73/0.86/1.62 s, and
  * 3.33 vs 4.74 s at 2M×256 (min-of-3, interleaved in one session).
  * The packed store is now the preferred serving shape across
  * scan-once AND reuse-per-row faces; the array face remains the
  * oracle surface and the interchange format.
  *
  * Numeric contract: pack is a raw bit-preserving float store per
  * element (exact for every float, non-canonical NaNs included —
  * r20 moved the kernels from shift-based byte assembly to single
  * `Platform` loads/stores on little-endian hosts; the blob format
  * itself stays little-endian by contract with a BE-host fallback),
  * and [[graft.functions.PackedVectorKernels]]
  * widens each float to double before multiplying exactly as the
  * array-face kernels, so packed cosines — and therefore the whole
  * top-k result — are BIT-IDENTICAL to [[Similarity.annBruteForce]]
  * (spec-pinned in EmbeddingStoreSpec). The array faces stay the
  * oracle surface; this is the serving/storage shape.
  *
  * Scale shape: packing is a pure projection (zero shuffles); the
  * packed search is the annBruteForce plan with the 4-byte-per-dim
  * blob riding scans and broadcasts instead of the list column.
  */
object EmbeddingStore {

  /** Pack `(vec_id, label, embedding)` into the store schema
    * `(vec_id, label, dim, emb_bin)` — one codegen'd projection.
    * `dim` is stored per row (the blob's length/4) so readers can
    * validate width without decoding; mixed-dim stores are refused at
    * load, not silently dot-truncated.
    */
  def packEmbeddings(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        packFloats(col("embedding")).as("emb_bin"))
      .select(col("vec_id"), col("label"),
        (length(col("emb_bin")) / 4).cast("int").as("dim"),
        col("emb_bin"))

  /** Write the packed store for a harness corpus. */
  def saveEmbeddingStore(spark: SparkSession, sfDir: String,
      path: String): Unit =
    packEmbeddings(embeddings(spark, sfDir))
      .write.mode("overwrite").parquet(path)

  /** Load a packed store; refuses foreign tables (the loadIvfIndex
    * convention). Width integrity is NOT scanned here: r19's probe
    * measured the original per-load distinct-scan at ~15% of the
    * registered search's cost, and the packed kernels REFUSE width
    * mismatches per pair anyway (every search touches every row, so a
    * mixed store fails loudly on first contact — see
    * PackedVectorKernels). Run [[validateStore]] offline when ingest
    * provenance is in doubt.
    */
  def loadEmbeddingStore(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(Seq("vec_id", "dim", "emb_bin").forall(df.columns.contains),
      s"not a packed embedding store at $path: " +
        df.columns.mkString("[", ",", "]"))
    df
  }

  /** Offline width audit of a packed store: one column-pruned scan,
    * refuses mixed widths loudly. The search faces don't need it (the
    * kernels carry the per-pair guard); an ingest pipeline runs this
    * once per produced artifact.
    */
  def validateStore(store: DataFrame): Unit = {
    val dims = store.select(col("dim")).distinct().collect()
      .map(_.getInt(0))
    require(dims.length == 1,
      s"mixed-dim store: ${dims.sorted.mkString(",")} — a dot across " +
        "widths is refused by the kernels; repack per dim")
  }

  /** Restore the array face from a packed store (round-trip exact —
    * pack/unpack preserve bits).
    */
  def unpackEmbeddings(store: DataFrame): DataFrame =
    store.select(col("vec_id"), col("label"),
      unpackFloats(col("emb_bin")).as("embedding"))

  /** S1 over the packed store: brute-force cosine top-k with the
    * fused packed kernel — the [[Similarity.annBruteForce]] plan,
    * bit-identical output (see the object scaladoc).
    */
  def annBruteForcePackedOn(store: DataFrame,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = store.select(col("vec_id"), col("emb_bin"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb_bin").as("q_bin"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosinePacked(col("emb_bin"), col("q_bin")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Registered `ann_bruteforce_packed`: the packed store persisted
    * once per input dir (the annIvfIndexedQuery cache convention —
    * production searches a store that already exists, and the cache
    * key carries a content fingerprint so a regenerated corpus gets a
    * fresh pack), searched from the loaded artifact. Rows-only (float
    * cosine ranks, the ann family reasoning); EmbeddingStoreSpec pins
    * the output bit-equal to ann_bruteforce.
    */
  def annBruteForcePackedQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    val cache = ArtifactCache.ensure(
      new java.io.File("/tmp/graft_packed_cache"),
      new java.io.File(sfDir).getName,
      Similarity.sourceFingerprint(s"$sfDir/embeddings.parquet"),
      c => new java.io.File(c, "_SUCCESS").exists())(
      tmp => saveEmbeddingStore(spark, sfDir, tmp.toString))
    annBruteForcePackedOn(loadEmbeddingStore(spark, cache.toString))
  }
}

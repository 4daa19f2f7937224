package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query + oracle registry for similarity search (SURVEY §2.4).
  *
  * The cosine oracle relies on both engines folding the double dot
  * product sequentially: Spark `aggregate(zip_with(...))` vs DuckDB
  * `list_dot_product(a::DOUBLE[], b::DOUBLE[])` — verified
  * bit-identical by tools/parity.py. LSH/IVF are rows-only (bucket
  * internals are engine-specific); their recall against the
  * brute-force baseline is asserted in SimilaritySpec.
  */
object SimilarityRegistry {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "ann_bruteforce" -> ((s, d) => Similarity.annBruteForce(s, d)),
    // S16 packed-store face: brute force over the persisted binary
    // blob store. Rows-only (float cosine ranks); EmbeddingStoreSpec
    // pins the output BIT-equal to ann_bruteforce — pack/search must
    // be value-invisible, only the storage width changes
    "ann_bruteforce_packed" -> ((s, d) =>
      EmbeddingStore.annBruteForcePackedQuery(s, d)),
    "sim_join" -> ((s, d) => Similarity.simJoin(s, d)),
    // production path: LSH-banded blocking, rows-only (bucket
    // internals engine-specific); recall vs sim_join spec'd ≥ 0.9.
    // Band width auto-sizes from the corpus since r17 (nBands = 0
    // default) — the fixed 4-bit bands returned ZERO pairs at 100×
    // (every bucket over the cap); the auto face stays registered as
    // the explicit S5-auto name, now the same computation
    "sim_join_lsh" -> ((s, d) => Similarity.simJoinLsh(s, d)),
    "sim_join_lsh_auto" -> ((s, d) => Similarity.simJoinLsh(s, d)),
    // S5-recall contract face at its default contract (θ=0.45,
    // R=0.95): at the harness corpora this SOLVES to the historical
    // 16 bands × 4 bits (the spec's theorem), so the row is non-empty
    // and identical to the fixed-16-band face; at 200k vectors the
    // same contract REFUSES by design (SimilaritySpec pins the
    // refusal naming annIvf), so the 100× probe runs the contract
    // face through its `sim_join_lsh_at_scaled` row — a θ=0.95
    // near-dup contract the solver can honor there (16 bits × 15
    // bands, also spec-pinned). The solved banding is logged per run
    // by the lsh_bits/lsh_bands observe metrics
    "sim_join_lsh_at" -> ((s, d) => Similarity.simJoinLshAt(s, d)),
    "ann_lsh" -> ((s, d) => Similarity.annLsh(s, d)),
    "ann_ivf" -> ((s, d) => Similarity.annIvf(s, d)),
    // ann_ivf_indexed and ann_ivf_indexed_packed: two keys, ONE
    // persisted index (the cached packed cell lists) searched with the
    // corpus prefix as queries. Rows-only like ann_ivf (float cosine
    // ranks); SimilaritySpec pins both bit-equal to the monolithic
    // annIvf under one deterministic fit
    "ann_ivf_indexed" -> ((s, d) => Similarity.annIvfIndexedQuery(s, d)),
    "ann_ivf_indexed_packed" -> ((s, d) =>
      Similarity.annIvfIndexedQuery(s, d)),
    // S18 batch serving face over the same cached index: 1-in-5 of the
    // corpus as an arbitrary (query_id, q_bin) table, bounded-heap
    // ranking. Rows-only; SimilaritySpec pins annIvfSearch bit-equal
    // to annIvf on a prefix query table
    "ann_ivf_search_packed" -> ((s, d) =>
      Similarity.annIvfSearchQuery(s, d)),
    // rows-only: the S13 maintenance loop (fit 4/5, append 1/5 under
    // frozen centroids, search); SimilaritySpec pins append ≡
    // rebuild-under-fixed-centroids bit-exactly
    "ann_ivf_append" -> ((s, d) => Similarity.annIvfAppendQuery(s, d)),
    "ann_pq" -> ((s, d) => Similarity.annPq(s, d)),
    "dedup_embedding" -> ((s, d) => Similarity.dedupEmbedding(s, d)),
    // oracle-checked distributed k-means: decimal-exact centroid
    // updates make every Lloyd's iteration engine-reproducible.
    // k=8 pinned explicitly — the DuckDB CTE chain is unrolled at
    // k=8; the library default is Clustering.AutoK (corpus ∝ k)
    "embed_kmeans" -> ((s, d) => Clustering.embedKmeans(s, d, k = 8)),
    "dedup_semantic" -> ((s, d) => Clustering.dedupSemantic(s, d, k = 8)),
    // S14 SSL-prototypes pruning on the S7 fit (k=8 pinned to the
    // unrolled CTE chain; keep decided by exact integer
    // cross-multiplication, so the whole row hash-matches)
    "embed_prune_proto" -> ((s, d) =>
      Clustering.embedPruneProto(s, d, k = 8)),
    "semdedup_apply" -> ((s, d) => Clustering.semdedupApply(s, d, k = 8)),
    "embed_quantize" -> ((s, d) => Similarity.embedQuantizeRows(s, d)),
    "embed_project" -> ((s, d) => Similarity.embedProject(s, d)),
    // S15 corpus k-NN graph: exact all-pairs verifier (hash-checked)
    // + the IVF-bucketed production build (rows-only; recall vs the
    // exact graph spec'd in SimilaritySpec, probed-cell hits
    // bit-equal under the shared cosine-DESC/vec_id tie rule)
    "knn_graph" -> ((s, d) => Similarity.knnGraph(s, d)),
    "knn_graph_ivf" -> ((s, d) => Similarity.knnGraphIvf(s, d))
  )

  private val COS =
    "list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s)))"

  private def cos(a: String, b: String) = COS.format(a, b, a, a, b, b)

  /** The k-means CTE chain: Lloyd's iterations UNROLLED — each round
    * is an argmax-cosine assignment (`ORDER BY cosine DESC, cell_id`
    * == the kernel's strict-> ascending scan) and a decimal-exact
    * per-dimension mean (`round(sum(decimal(18,4)), 2) / n` ==
    * Tables.davg), so the chain reproduces Clustering.assignments
    * bit-for-bit. Ends with CTEs `v` (corpus) and `f` (final
    * assignment incl. emb); `tail` selects from those.
    */
  private def kmeansSql(k: Int, iters: Int, tail: String,
      recursive: Boolean = false): String = {
    val sb = new StringBuilder
    // WITH RECURSIVE is legal (and required) when the tail adds a
    // recursive CTE; harmless otherwise, so gated to keep the
    // long-green oracles byte-identical
    sb ++= (if (recursive) "WITH RECURSIVE " else "WITH ")
    sb ++= s"v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),\n"
    sb ++= s"c0 AS (SELECT vec_id::INT AS cell_id, emb AS c FROM v WHERE vec_id < $k)"
    for (i <- 1 to iters) {
      val p = s"c${i - 1}"
      sb ++= s""",
a$i AS (SELECT vec_id, emb, cell_id FROM (
  SELECT v.vec_id, v.emb, $p.cell_id,
    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY ${cos("v.emb", p + ".c")} DESC, $p.cell_id) AS rn
  FROM v CROSS JOIN $p) WHERE rn = 1),
c$i AS (SELECT cell_id, list(m ORDER BY pos) AS c FROM (
  SELECT cell_id, pos, CAST(ROUND(SUM(CAST(val AS DECIMAL(18,4))), 2) AS DOUBLE) / COUNT(*) AS m
  FROM (SELECT cell_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS pos FROM a$i) u
  GROUP BY cell_id, pos) g GROUP BY cell_id)"""
    }
    sb ++= s""",
f AS (SELECT vec_id, emb, cell_id, cosine FROM (
  SELECT v.vec_id, v.emb, c$iters.cell_id, ${cos("v.emb", s"c$iters.c")} AS cosine,
    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY ${cos("v.emb", s"c$iters.c")} DESC, c$iters.cell_id) AS rn
  FROM v CROSS JOIN c$iters) WHERE rn = 1)
$tail"""
    sb.toString
  }

  val oracle: Map[String, String] = Map(
    "ann_bruteforce" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id < 10),
         |s AS (SELECT query_id, v.vec_id,
         |   ${cos("v.emb", "q_emb")} AS cosine
         | FROM v CROSS JOIN q WHERE v.vec_id <> query_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, vec_id) AS rnk FROM s)
         |SELECT query_id, vec_id AS neighbor_id, cosine, rnk
         |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // S15 exact graph: the ann_bruteforce statement with EVERY
    // vector as its own query (partition = the source vector)
    "knn_graph" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |s AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
         |   ${cos("a.emb", "b.emb")} AS cosine
         | FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |   ORDER BY cosine DESC, neighbor_id) AS rnk FROM s)
         |SELECT vec_id, neighbor_id, cosine, rnk
         |FROM r WHERE rnk <= 5 ORDER BY vec_id, rnk""".stripMargin,
    "sim_join" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         | ${cos("a.emb", "b.emb")} AS cosine
         |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cos("a.emb", "b.emb")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embedding" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         | ${cos("a.emb", "b.emb")} AS cosine
         |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cos("a.emb", "b.emb")} >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,
    "embed_kmeans" -> kmeansSql(8, 3,
      "SELECT vec_id, cell_id, cosine FROM f ORDER BY vec_id"),
    // per-cell prototypicality rank (cosine DESC, vec_id tie) with
    // keep ⟺ (rank−1)·den ≥ num·n — the integer form of
    // "prune the ⌈frac·n⌉ most prototypical"
    "embed_prune_proto" -> kmeansSql(8, 3,
      s""",r AS (SELECT vec_id, cell_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY cell_id
         |    ORDER BY cosine DESC, vec_id) AS proto_rank,
         |  COUNT(*) OVER (PARTITION BY cell_id) AS n_cell FROM f)
         |SELECT vec_id, cell_id, cosine, proto_rank,
         |  CASE WHEN (proto_rank - 1) * 10 >= 3 * n_cell
         |    THEN 1 ELSE 0 END AS keep
         |FROM r ORDER BY vec_id""".stripMargin),
    "dedup_semantic" -> kmeansSql(8, 3,
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         | ${cos("a.emb", "b.emb")} AS cosine
         |FROM f a JOIN f b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |WHERE ${cos("a.emb", "b.emb")} >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin),
    // SemDeDup pairs closed transitively (recursive CTE = the
    // large/small-star fixpoint), clusters collapsed to min-id
    // keepers, corpus anti-joined — the dedup_apply recipe in
    // embedding space
    "semdedup_apply" -> kmeansSql(8, 3,
      s""",p AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM f a JOIN f b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.emb", "b.emb")} >= 0.45),
         |und AS (SELECT va AS x, vb AS y FROM p
         |        UNION SELECT vb, va FROM p),
         |reach(src, dst) AS (
         |  SELECT x, x FROM und
         |  UNION
         |  SELECT r.src, u.y FROM reach r JOIN und u ON r.dst = u.x),
         |losers AS (SELECT src AS vec_id FROM reach
         |  GROUP BY src HAVING min(dst) <> src)
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY e.vec_id""".stripMargin, recursive = true),
    // int8 quantization: floor(+0.5) half-up — exact on doubles in
    // both engines, so the codes themselves hash-match. Exploded to
    // one scalar row per dimension (generate_subscripts is 1-based,
    // matching the Spark side's pos+1) because the driver harness
    // canonicalizes with pandas sort_values, which cannot sort an
    // array column.
    "embed_quantize" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s AS (SELECT vec_id, v, CASE WHEN m = 0.0 THEN 1.0 ELSE m END AS scale
         |  FROM (SELECT vec_id, v,
         |    list_max(list_transform(v, x -> abs(x))) AS m FROM v))
         |SELECT vec_id, scale,
         | generate_subscripts(v, 1) AS pos,
         | unnest(list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS INT))) AS q
         |FROM s ORDER BY vec_id, pos""".stripMargin,
    // ±1 sign projection: the sign matrix is md5-parity public
    // randomness, each coordinate a pure integer sum of DECIMAL(18,4)
    // unscaled values — order-free, so the GROUP BY reproduces the
    // engine's fixed-order loop bit-for-bit
    "embed_project" ->
      s"""WITH e AS (SELECT vec_id,
         |  generate_subscripts(embedding, 1) - 1 AS i,
         |  CAST(CAST(unnest(embedding)::DOUBLE AS DECIMAL(18,4)) * 10000
         |    AS BIGINT) AS v
         | FROM embeddings),
         |m AS (SELECT j, i,
         |  CASE WHEN strpos('02468ace',
         |    substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 1)) > 0
         |  THEN 1 ELSE -1 END AS s
         | FROM range(0, 16) t1(j), range(0, 64) t2(i))
         |SELECT e.vec_id, m.j AS dim, sum(m.s * e.v)::BIGINT AS p_scaled
         |FROM e JOIN m ON e.i = m.i
         |GROUP BY e.vec_id, m.j ORDER BY vec_id, dim""".stripMargin
  )
}

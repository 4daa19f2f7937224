package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Similarity

/** Large-scale probe runner (SURVEY §8): times the operators whose
  * scaling actually needs demonstrating — dedup, similarity, text,
  * and event-window paths — against a replica-scaled corpus built by
  * `tools/make_probe.py` (default 100× sf0.1 = sf10-equivalent:
  * 500k docs / 200k vectors / 10M events).
  *
  * The label-blocked sim_join / dedup_embedding verifiers are
  * deliberately excluded: they are documented-quadratic small-scale
  * oracles; their production route (sim_join_lsh) runs here with
  * scale-appropriate parameters instead — 4 bands × 16 bits (the
  * 64-bit signature budget) at a near-dup threshold, where bucket
  * sizes stay bounded by true-duplicate group size rather than
  * growing with the corpus.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfbig2")

    val fromRegistry = Seq(
      "dedup_exact", "dedup_jaccard_pairs", "dedup_jaccard_lsh",
      "dedup_minhash_pairs", "dedup_simhash", "dedup_winnow",
      "contamination_screen", "dedup_clusters", "dedup_substring",
      // the registry-parameter clustered-similarity faces (their
      // _scaled twins below probe the honest-scale parameters; these
      // pin the registered defaults so every family has a committed
      // 100× number)
      "dedup_clusters_lsh", "sim_join_lsh", "sim_join_lsh_auto",
      "dedup_semantic", "semdedup_apply",
      "quality_gopher", "gopher_repetition", "quality_c4", "c4_apply",
      "compression_ratio", "quality_signals", "quality_signals_core",
      "domain_filter", "domain_cap", "domain_cap_apply",
      "domain_cap_rebalance",
      "sentence_span_scrub", "sentence_span_scrub_join", "pipeline_c4",
      "text_tokens", "text_quality", "text_langid", "text_fingerprint",
      "text_shingles", "text_novelty", "pack_sequences",
      "export_shards", "shard_manifest",
      "text_repetition", "pii_scrub", "html_extract",
      "quality_classify",
      "dedup_apply", "mix_sources", "mix_sources_sampled", "corpus_diff",
      "screen_apply", "corpus_stats",
      "source_overlap", "source_overlap_sketch",
      "screen_ngram_overlap", "screen_ngram_bloom",
      "dedup_exact_bloom",
      "holdout_carve", "holdout_carve_bloom", "contamination_report",
      "contamination_report_join",
      "domain_line_dedup", "corpus_diversity",
      "ann_ivf_search_packed",
      "embed_prune_proto", "signals_ablation", "model_threshold_sweep",
      "top_ngrams", "top_ngrams_approx", "boilerplate_share",
      "bpe_train", "pack_sequences_bpe",
      "line_dedup", "paragraph_dedup", "substring_scrub",
      "dedup_apply_best",
      "dedup_index_build", "dedup_incremental_exact", "dedup_incremental",
      "dedup_incremental_verified",
      "media_phash", "media_dedup",
      "lm_doc_stats", "lm_perplexity",
      "lm2_doc_stats", "lm2_perplexity", "ppl_select",
      "ppl_select_lang", "token_fertility",
      "nb_doc_stats", "nb_classify", "chunk_docs", "vocab_growth",
      "dsir_doc_stats", "dsir_weights", "dsir_select",
      "dsir_select_sampled",
      "bm25_search", "embed_kmeans", "embed_quantize", "embed_project",
      "pipeline_clean", "pipeline_full", "pipeline_scrub",
      "pipeline_ingest", "pipeline_ingest_verified",
      "pipeline_signals", "pipeline_release", "pipeline_web",
      "pipeline_release_carve",
      "wordcount_salted",
      "multimodal_decode",
      "ann_bruteforce", "ann_bruteforce_packed", "ann_lsh", "ann_ivf",
      "ann_ivf_indexed", "ann_ivf_indexed_packed", "ann_ivf_append",
      "ann_pq",
      // the exact knn_graph is the sim_join-style quadratic verifier
      // (maxRows-guarded) — only the IVF build probes at 100×
      "knn_graph_ivf",
      "q_events_tumbling", "q_events_sliding", "q_sessionize",
      "q_conditional_agg")

    // the hv-phrase leak plant — Dedup.holdoutPlanted itself, so the
    // share/broadcast A/B rows provably plant the registered corpus:
    // mod 5 = the registry fixture's rate (20% of docs — saturates
    // the Bloom pre-filter at 100×), mod 1000 = the sparse
    // design-regime rate for the *_sparse rows
    def leakPlanted(spark: SparkSession, mod: Int): DataFrame =
      operators.Dedup.holdoutPlanted(spark, sfDir, mod)
    def sparseLeakPlanted(spark: SparkSession): DataFrame =
      leakPlanted(spark, 1000)

    val scaled: Seq[(String, SparkSession => DataFrame)] = Seq(
      // head-to-head with the registry's contamination_screen: the
      // driver-indexed flatMap shape vs the broadcast-join + count agg
      "contamination_screen_indexed" -> (spark =>
        operators.Dedup.screenDocsIndexed(
          graft.Tables.documents(spark, sfDir))),
      // near-dup regime: 16-bit bands -> ~corpus/65536 per bucket +
      // true-duplicate groups; exact pairs (cosine 1.0) recall is 1.0
      // at any scale because identical vectors share every signature
      "sim_join_lsh_scaled" -> (spark =>
        Similarity.simJoinLsh(spark, sfDir, threshold = 0.99,
          nPlanes = 64, nBands = 4, maxBucket = 5000)),
      // the S5-recall contract face at a contract the solver CAN
      // honor at 200k vectors: θ=0.95, R=0.95 solves to 16-bit bands
      // × 15 (240 planes — simJoinLshPlanFor(200000, 0.95), spec-
      // pinned), logged per run via the lsh_bits/lsh_bands observe
      // metrics. The registered default contract (θ=0.45) REFUSES at
      // this scale by design, naming annIvf — also spec-pinned
      "sim_join_lsh_at_scaled" -> (spark =>
        Similarity.simJoinLshAt(spark, sfDir, threshold = 0.95,
          targetRecall = 0.95)),
      // SemDeDup regime: k grows with the corpus so clusters stay
      // bounded (~3k vectors/cell at the 100× probe's 200k)
      "dedup_semantic_scaled" -> (spark =>
        operators.Clustering.dedupSemantic(spark, sfDir,
          k = 64, iters = 2, threshold = 0.99)),
      // IVF at honest scale parameters: 64 cells over 200k vectors
      // (~3k/cell; a real deployment sizes nCells ~ sqrt(n)) probing
      // 8 — 12.5% of the corpus scanned per query instead of the
      // registry default's 25% (nCells=8, nProbe=2, sized for the
      // oracle corpus)
      "ann_ivf_scaled" -> (spark =>
        Similarity.annIvf(spark, sfDir, nCells = 64, nProbe = 8,
          k = 10, nQueries = 100)),
      // same query at the library default AutoK: k = ceil(n/1000)
      // from a bounded count (200 cells at the 100× probe's 200k)
      "dedup_semantic_auto" -> (spark =>
        operators.Clustering.dedupSemantic(spark, sfDir,
          k = operators.Clustering.AutoK, iters = 2,
          threshold = 0.99)),
      // the full semantic pipeline product at auto-k: pairs →
      // components → deduplicated embedding corpus
      "semdedup_apply_scaled" -> (spark =>
        operators.Clustering.semdedupApply(spark, sfDir,
          k = operators.Clustering.AutoK, iters = 2,
          threshold = 0.99)),
      // S14 at the library default AutoK (200 cells at the 100×
      // probe's 200k vectors — the window sorts ~1k rows per cell)
      "embed_prune_proto_scaled" -> (spark =>
        operators.Clustering.embedPruneProto(spark, sfDir,
          k = operators.Clustering.AutoK, iters = 2)),
      // shared-derivation chain: jaccard pairs materialized ONCE,
      // clusters resolved from them, corpus filtered from the
      // clusters — vs dedup_jaccard_pairs + dedup_clusters +
      // dedup_apply standalone, which each re-derive the pairs
      "dedup_chain_shared" -> (spark => {
        import org.apache.spark.sql.functions.col
        val pairs = operators.Dedup.jaccardPairs(spark, sfDir)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint(true)
        val clusters = operators.Clusters.clusterPairs(pairs)
          .localCheckpoint(true)
        operators.Clusters.dedupApplyFromClusters(
          graft.Tables.documents(spark, sfDir), clusters)
      }),
      // same chain with the BEST-QUALITY keeper (D12) instead of the
      // min-id keeper: pairs materialized once → clusters → scored
      // apply — measures the scored apply's PIPELINE cost directly
      // (standalone dedup_apply_best re-derives pairs+clusters, so
      // its probe row mostly times the jaccard stage again)
      "dedup_apply_best_chain" -> (spark => {
        import org.apache.spark.sql.functions.col
        val pairs = operators.Dedup.jaccardPairs(spark, sfDir)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint(true)
        val clusters = operators.Clusters.clusterPairs(pairs)
          .localCheckpoint(true)
        operators.Clusters.dedupApplyBestFromClusters(
          graft.Tables.documents(spark, sfDir), clusters)
      }),
      // head-to-head with the registry's substring_scrub: the
      // never-collects shuffle-join shape vs the broadcast-frontier
      // default, on the same planted corpus
      "substring_scrub_join" -> (spark => {
        import org.apache.spark.sql.functions.{col, concat, lit, when}
        val phrase = (0 until 10).map(i => s"sp$i").mkString(" ")
        val planted = graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 5,
              concat(col("text"), lit(" " + phrase)))
              .otherwise(col("text")).as("text"))
        operators.CorpusOps.substringScrubJoin(planted)
      }),
      // DSIR shared-derivation chain: ONE weight pass localCheckpointed,
      // feeding the deterministic selection AND a seeded sample — vs
      // dsir_select + dsir_select_sampled standalone, which each
      // re-derive the two-model weight pass (~14 s of their probe rows)
      "dsir_chain_shared" -> (spark => {
        import org.apache.spark.sql.functions.col
        val docs = graft.Tables.documents(spark, sfDir)
        val w = operators.Search.dsirWeights(spark, sfDir)
          .localCheckpoint(true)
        val det = operators.Search.dsirSelectFromWeights(docs, w)
          .select(col("doc_id"))
        val smp = operators.Search
          .dsirSelectSampledFromWeights(docs, w)
          .select(col("doc_id"))
        det.union(smp)
      }),
      // D21/D21b in the join shape's DESIGN regime (the r16 verdict's
      // #5): the registry fixture plants its phrase on 20% of docs,
      // which at 100× saturates the D18 Bloom pre-filter AND makes
      // the plant grams' eval×train posting product the dominant
      // cost — the committed 1394.7 s row measures the worst case
      // only. This pair plants on 0.1% of docs (doc_id ≡ 3 mod 1000),
      // the realistic benchmark-leak rate, on the SAME corpus for
      // both shapes so the broadcast/join ratio in the probe file is
      // the filter's actual win, not its saturation price
      "contamination_report_sparse" -> (spark =>
        operators.Dedup.contaminationReport(sparseLeakPlanted(spark))),
      "contamination_report_join_sparse" -> (spark =>
        operators.Dedup.contaminationReportJoin(sparseLeakPlanted(spark))),
      // the share A/B face for the SATURATED regime: the r17 split
      // checkpoint is a win when the downstream is scan-bound (the
      // sparse row) but must be measured against the recompute plan
      // where the join dominates and memory is tight
      "contamination_report_join_noshare" -> (spark =>
        operators.Dedup.contaminationReportJoin(leakPlanted(spark, 5),
          share = false)),
      "contamination_report_join_sparse_noshare" -> (spark =>
        operators.Dedup.contaminationReportJoin(sparseLeakPlanted(spark),
          share = false)),
      // LAST on purpose: the deliberately-degraded join fallback is
      // the probe's heaviest stressor and has twice taken the whole
      // session down with a driver OOM under host memory pressure —
      // run it when nothing is left to poison (or give the forked JVM
      // more heap via SPARK_DRIVER_MEM)
      "contamination_screen_join" -> (spark =>
        operators.Dedup.screenDocsJoin(
          graft.Tables.documents(spark, sfDir))))

    val all =
      fromRegistry.map(n => n -> ((spark: SparkSession) =>
        SparkEntry.queries(n)(spark, sfDir))) ++ scaled
    // optional args: query names = run only that subset (re-measure
    // one operator without paying for the whole probe); --rotate=N
    // rotates the run order by N positions so no query is pinned to
    // the session tail — post-stressor session debris (GC pressure,
    // storage bookkeeping) inflates tail queries up to 4x (SURVEY
    // §9); two runs at different rotations expose it, min-per-query
    // is the honest fresh cost
    val (rotateArgs, names) = args.toSeq.partition(_.startsWith("--rotate="))
    val rotate = rotateArgs.lastOption.fold(0) { a =>
      val v = a.drop("--rotate=".length)
      v.toIntOption.getOrElse(sys.error(s"--rotate=$v is not an integer " +
        "(usage: runMain graft.Probe [--rotate=N] [query ...])"))
    }
    // an unknown name (a typo, or `--rotate 3` split into two args)
    // fails before the session starts
    val selected = Harness.select(names, all)
    val r = ((rotate % selected.size) + selected.size) % selected.size
    val results = selected.drop(r) ++ selected.take(r)

    val spark = Harness.session()
    // warm codegen/JIT on the small SF so timings are steady-state
    val warmDir = "/root/testdata/sf0.01"
    val warmFailed = fromRegistry.filter { name =>
      Harness.attempt("probe", s"$name (warm-up)")(
        Harness.evaluate(SparkEntry.queries(name)(spark, warmDir))).isEmpty
    }
    // pre-fault the TARGET corpus before timing: run 1 of the r17
    // probe read the freshly-generated parquet cold from disk and
    // paid 2–6× on the first ~10 heavy rows — entirely erased by a
    // second run (page cache) and by isolated re-runs of the same
    // binary. One untimed full scan per input table makes run 1
    // cache-consistent with every later run, so min-merging two runs
    // measures the engine, not the disk (the sf0.01 warmup above
    // compiles the plans but never touches these files)
    val prefaultFailed = Seq("documents" -> Tables.documents _,
        "embeddings" -> Tables.embeddings _, "events" -> Tables.events _)
      .filter { case (table, read) =>
        Harness.attempt("probe", s"$table (pre-fault)")(
          Harness.evaluate(read(spark, sfDir))).isEmpty
      }
    val failed = results.filter { case (name, mk) =>
      Harness.attempt("probe", name) {
        val t0 = System.nanoTime()
        val rows = Harness.evaluate(mk(spark))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"query":"$name","sec":$sec%.2f,"rows":$rows}""")
      }.isEmpty
    }
    spark.stop()
    if (Seq(warmFailed, prefaultFailed, failed).exists(_.nonEmpty)) sys.exit(1)
  }
}

package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val queries = SparkEntry.queries.toSeq
    // Warm EVERY query's codegen/JIT path on a small SF before timing.
    // A single-query warmup leaves window/decimal/sketch codegen compiling
    // inside the first timed run (measured: q_window_rank 21.3s cold vs
    // 1.8s warm at local[32]), which makes the bench signal noise.
    // Warmup uses Harness.evaluate like the timed passes, so the timed
    // run compiles nothing; that holds only while
    // GraftSession.codegenConf's cache holds the whole registry's
    // generated classes.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    val warmFailed = queries.filter { case (name, fn) =>
      Harness.attempt("bench", s"$name (warm-up)")(
        Harness.evaluate(fn(spark, warmDir))).isEmpty
    }.map(_._1)
    // min of 2 timed passes per query: the shared host's CPU budget
    // swings up to 2× between minutes (measured: identical code+data
    // 45.9s vs 87.9s total), and the minimum is the standard
    // noise-robust point estimate — every pass still does the full
    // work (toRdd count), nothing is skipped.
    // A query that throws, in the warm-up or a timed pass, is failed,
    // not fast: it gets no time, is left out of the total and named in
    // "failed", and the run exits non-zero.
    val passes = (1 to 2).map { _ =>
      queries.map { case (name, fn) =>
        name -> Harness.attempt("bench", name) {
          val t0 = System.nanoTime()
          Harness.evaluate(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
      }.toMap
    }
    val failed = queries.map(_._1).filter(name =>
      warmFailed.contains(name) || passes.exists(_(name).isEmpty)).sorted
    val results = queries.map(_._1).filterNot(failed.contains)
      .map(name => name -> passes.map(_(name).get).min).toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":2,"queries":$qs,"sf":"$sfDir","failed":$failedJson}"""
    println(line)
    // Self-contained round artifact: the full line above outgrew the
    // harness's 2000-char tail capture once the registry passed ~90
    // queries (BENCH_rNN.json "parsed" was null from r8 on, leaving
    // the per-query map only in the separately-maintained min-merge
    // files). Persist the complete JSON to a file AND print a compact
    // summary as the LAST line, which a bounded tail capture can
    // always parse.
    val outPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // A failed write must not advertise a path a previous run
    // populated (the merge tooling would silently parse stale
    // numbers), so queries_file goes null on failure.
    val wrote = Harness.attempt("bench", outPath) {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes("UTF-8"))
    }.isDefined
    val qf = if (wrote) s""""$outPath"""" else "null"
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":2,"n_queries":${results.size},"sf":"$sfDir","queries_file":$qf,"failed":$failedJson}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(GraftSession.codegenConf)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm EVERY query's codegen/JIT path on a small SF before timing.
    // A single-query warmup leaves window/decimal/sketch codegen compiling
    // inside the first timed run (measured: q_window_rank 21.3s cold vs
    // 1.8s warm at local[32]), which makes the bench signal noise.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    // Force FULL evaluation by counting the physical plan's
    // InternalRow RDD: DataFrame.count() lets the optimizer drop pure
    // projections and times only the scan (the Probe found exactly
    // this; projection-heavy text queries were under-timed). Warmup
    // uses the same path so the timed run compiles nothing; that holds
    // only while GraftSession.codegenConf's cache holds the whole
    // registry's generated classes.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Long =
      fn(spark, dir).queryExecution.toRdd.count()
    SparkEntry.queries.foreach { case (_, fn) =>
      try run(fn, warmDir) catch { case _: Throwable => () }
    }
    // min of 2 timed passes per query: the shared host's CPU budget
    // swings up to 2× between minutes (measured: identical code+data
    // 45.9s vs 87.9s total), and the minimum is the standard
    // noise-robust point estimate — every pass still does the full
    // work (toRdd count), nothing is skipped.
    // A query that throws is failed, not fast: it gets no time, is
    // left out of the total and named in "failed", and the run exits
    // non-zero.
    val passes = (1 to 2).map { _ =>
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { run(fn, sfDir); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name failed: $e")
            false
          }
        name -> Option.when(ok)((System.nanoTime() - t0) / 1e9)
      }
    }
    val failed = SparkEntry.queries.keys
      .filter(name => passes.exists(_(name).isEmpty)).toSeq.sorted
    val results = SparkEntry.queries.keys.filterNot(failed.contains)
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
    // Catch NonFatal only: a failed write must not advertise a path a
    // previous run populated (the merge tooling would silently parse
    // stale numbers), so queries_file goes null on failure.
    val wrote =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          (line + "\n").getBytes("UTF-8"))
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    val qf = if (wrote) s""""$outPath"""" else "null"
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":2,"n_queries":${results.size},"sf":"$sfDir","queries_file":$qf,"failed":$failedJson}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

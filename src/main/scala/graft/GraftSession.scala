package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.GraftCheckpointFileManager

/** Opinionated session factory: the configuration this library is
  * designed against, for both local[\*] and cluster deployments.
  * Everything here is a dynamic-or-builder conf — callers on a
  * managed cluster can still override via spark-submit.
  */
object GraftSession {

  /** Streaming checkpoints on local paths written without forking
    * `chmod`/`readlink` per file ([[GraftCheckpointFileManager]]). A
    * user who builds their own SparkSession sets this to get the same.
    */
  val checkpointConf: Map[String, String] = Map(
    GraftCheckpointFileManager.ConfKey ->
      classOf[GraftCheckpointFileManager].getName)

  /** Spark's cache of compiled generated classes, sized to graft's
    * working set. Spark compiles each generated class with Janino and
    * keeps it in one JVM-wide cache, keyed by the generated source, of
    * 100 classes by default. One pass of `pipeline_full` plus
    * `sim_join_lsh` needs ~220 and a sweep of all 159 registry queries
    * at sf0.01 needs 1,747, so at the default every warm pass
    * recompiled what the pass before had evicted. 4000 holds the
    * registry with room for a second scale's plans and user queries;
    * the registry's classes cost ~13 MB of Metaspace.
    *
    * The size is fixed once per JVM, by the first session that
    * compiles anything; later sessions cannot change it. A user who
    * builds their own SparkSession sets this before any query runs.
    */
  val codegenConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4000")

  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // shuffle partitions sized to the parallelism actually
      // available; AQE coalesces further at runtime
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // power-law keys (tokens, users) are the norm in this domain
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(checkpointConf)
      .config(codegenConf)
      .withExtensions(new GraftExtensions)

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

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
      .withExtensions(new GraftExtensions)

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

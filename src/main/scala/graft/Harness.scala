package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What graft's mains share: one session, name resolution against the
  * registry, full evaluation of a query, and one failure path that
  * names the query instead of swallowing it.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session users get ([[GraftSession.builder]]), sized to [[cpus]]. */
  def builder(): SparkSession.Builder =
    GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")

  def session(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The named entries of `from`, in `from`'s order; no names = all of
    * them. An unknown name fails before any work is spent on the rest.
    */
  def select[A](names: Seq[String],
      from: Seq[(String, A)]): Seq[(String, A)] = {
    val unknown = names.filterNot(from.map(_._1).toSet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) from else from.filter(e => names.contains(e._1))
  }

  def select(names: Seq[String]): Seq[(String, Query)] =
    select(names, SparkEntry.queries.toSeq)

  /** Runs every operator of `df`'s plan and returns its row count.
    * DataFrame `count()` lets the optimizer drop pure projections and
    * times only the scan; counting the physical plan's InternalRow RDD
    * does not.
    */
  def evaluate(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** `body`'s value, or None after naming `name` on stderr as
    * `[tag] name failed: …`. Fatal errors (OOM, interrupts) propagate.
    */
  def attempt[A](tag: String, name: String)(body: => A): Option[A] =
    try Some(body)
    catch { case NonFatal(e) =>
      System.err.println(s"[$tag] $name failed: $e")
      None
    }
}

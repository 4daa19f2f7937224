package graft

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps compiled generated classes in one JVM-wide cache. Sized
  * below graft's working set, it evicts a class before its next use,
  * and every pass over the same queries runs Janino again.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  private val key = "spark.sql.codegen.cache.maxEntries"

  // the builder keeps its options in a Scala-protected map, public in
  // bytecode
  private def options(b: SparkSession.Builder): mutable.Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[mutable.Map[String, String]]

  test("GraftSession.builder carries the codegen cache size; a user .config wins") {
    assert(GraftSession.codegenConf(key).toInt > 100)
    assert(options(GraftSession.builder()).get(key) ==
      Some(GraftSession.codegenConf(key)))
    assert(options(GraftSession.builder().config(key, "7")).get(key) == Some("7"))
  }

  test("a second evaluation of pipeline_full and sim_join_lsh compiles no class") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def evaluate() = Seq("pipeline_full", "sim_join_lsh").map { q =>
      q -> SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq
    }
    val first = evaluate()
    val before = compiled
    val second = evaluate()
    assert(compiled - before == 0, "classes compiled again on the second evaluation")
    assert(first.forall(_._2.nonEmpty))
    assert(second == first)
  }
}

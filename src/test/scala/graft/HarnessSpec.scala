package graft

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared run path: name resolution, the failure path and
  * the session they build.
  */
class HarnessSpec extends AnyFunSuite {

  test("select keeps registry order and names an unknown query") {
    val all = Harness.select(Nil)
    assert(all.map(_._1) == SparkEntry.queries.toSeq.map(_._1))
    assert(Harness.select(Seq("q_filter_project", "q1_pricing_summary"))
      .map(_._1).toSet == Set("q_filter_project", "q1_pricing_summary"))
    val e = intercept[IllegalArgumentException] {
      Harness.select(Seq("q1_pricing_summary", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
  }

  test("attempt names only the query that throws; the others still run") {
    val ran = mutable.Buffer.empty[String]
    val thunks = Seq[(String, () => Int)](
      "first" -> (() => { ran += "first"; 1 }),
      "boom" -> (() => throw new IllegalStateException("planted")),
      "last" -> (() => { ran += "last"; 3 }))
    val results = thunks.map { case (name, f) =>
      name -> Harness.attempt("spec", name)(f())
    }
    assert(results.collect { case (n, None) => n } == Seq("boom"))
    assert(results.collect { case (_, Some(v)) => v } == Seq(1, 3))
    assert(ran == Seq("first", "last"))
  }

  test("Harness.builder is GraftSession.builder sized to Harness.cpus") {
    // the builder keeps its options in a Scala-protected map, public in
    // bytecode (the CodegenReuseSpec reading)
    val b = Harness.builder()
    val opts = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[mutable.Map[String, String]]
    (GraftSession.codegenConf ++ GraftSession.checkpointConf).foreach {
      case (k, v) => assert(opts.get(k) == Some(v), k)
    }
    assert(opts.get("spark.master") == Some(s"local[${Harness.cpus}]"))
    assert(opts.get("spark.sql.shuffle.partitions") ==
      Some(Harness.cpus.toString))
    assert(opts.get("spark.ui.enabled") == Some("false"))
  }
}

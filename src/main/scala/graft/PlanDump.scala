package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round instrument: dump `.explain("formatted")` for
  * every registered query (or the subset named in args) to one file
  * per query, so plan-shape claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema, codegen spans) are checkable offline.
  * A plan that fails to build is named on stderr, gets no file, and
  * the run exits 1.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [_suffix] [names...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: runMain graft.PlanDump <sfDir> <outDir> [_suffix] [names...]")
    val (sfDir, outDir) = (args(0), args(1))
    val suffix = if (args.length > 2) args(2) else "_before"
    val queries = Harness.select(args.toSeq.drop(3)).sortBy(_._1)
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    val failed = queries.filter { case (name, fn) =>
      Harness.attempt("plandump", name) {
        val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(s"$outDir/$name$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name -> $outDir/$name$suffix.txt")
      }.isEmpty
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

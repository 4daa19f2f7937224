package graft

import java.nio.file.{Files, Paths}

/** Optimization-round instrument: dump `.explain("formatted")` for
  * every registered query (or the subset named in args) to one file
  * per query, so plan-shape claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema, codegen spans) are checkable offline.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [_suffix] [names...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "plans/r20"
    val suffix = if (args.length > 2) args(2) else "_before"
    val names = args.drop(3).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config(GraftSession.codegenConf)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case scala.util.control.NonFatal(e) =>
            s"ERROR building plan: $e" }
        Files.write(Paths.get(s"$outDir/$name$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name -> $outDir/$name$suffix.txt")
      }
    }
    spark.stop()
  }
}

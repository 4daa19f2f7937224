package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (tools/parity.py).
  * Exits 1 when any query failed, after naming every failure on one
  * line. */
object Verify {
  /** Write each query's result to `outDir/<name>` as one parquet file.
    * A query that throws is reported on stderr and the rest are still
    * written; returns the failed names in run order.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, Harness.Query)]): Seq[String] =
    queries.filter { case (name, fn) =>
      Harness.attempt("verify", name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }.isEmpty
    }.map(_._1)

  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [queryName ...] — with names,
    // dump only those queries (plus the full oracle_sql.json) for
    // fast single-operator iteration; the driver passes none.
    val (sfDir, outDir) = (args(0), args(1))
    val queries = Harness.select(args.toSeq.drop(2))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir, queries)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}

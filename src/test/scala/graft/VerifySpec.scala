package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("dump names a failing query and still writes every other query") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    def ok(n: Long): (SparkSession, String) => DataFrame =
      (s, _) => s.range(n).toDF("id")
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "first" -> ok(3),
      "boom" -> ((_, _) => throw new IllegalStateException("planted")),
      "last" -> ok(5))
    val failed = Verify.dump(spark, "unused", out, queries)
    assert(failed == Seq("boom"))
    assert(spark.read.parquet(s"$out/first").count() == 3)
    assert(spark.read.parquet(s"$out/last").count() == 5)
    assert(!new java.io.File(s"$out/boom").exists())
  }
}

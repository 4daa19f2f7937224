package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config(GraftSession.codegenConf)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns a sane schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("q1 aggregates are internally consistent") {
    val rows = operators.Relational.q1PricingSummary(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val avgQty = r.getAs[Double]("avg_qty")
      val n = r.getAs[Long]("count_order")
      assert(math.abs(sumQty / n - avgQty) < 1e-9)
    }
  }

  test("window rank keeps at most 3 suppliers per part") {
    val df = operators.Relational.qWindowRank(spark, sf)
    val maxPerPart = df.groupBy("l_partkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPerPart <= 3)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("sessionize: session count equals new-session flags") {
    val df = operators.Windows.qSessionize(spark, sf)
    // session ids are dense per user starting at 1
    import org.apache.spark.sql.functions._
    val bad = df.groupBy("user_id")
      .agg(max("session_id").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(bad == 0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Lineage

/** The Lineage durability knob (SURVEY §5, ChaosCheck scenario 4's
  * composition-side contract): default = localCheckpoint exactly as
  * before; reliable = .checkpoint under a configured dir; reliable
  * WITHOUT a dir refuses at composition, by name, before any job
  * runs. The executor-loss behavior itself is pinned by ChaosSpec
  * (a local[*] session cannot lose executors); this spec pins the
  * in-process contract: values identical under both modes.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("reliable=true without a checkpoint dir refuses at " +
      "composition, naming both the conf and the fix") {
    import spark.implicits._
    val prevDir = spark.sparkContext.getCheckpointDir
    assume(prevDir.isEmpty,
      "another spec set a checkpoint dir on the shared session; the " +
        "refusal path needs the unset state")
    spark.conf.set(Lineage.ReliableConf, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Lineage.truncate(Seq(1, 2, 3).toDF("x"))
      }
      assert(e.getMessage.contains(Lineage.ReliableConf) &&
        e.getMessage.contains("setCheckpointDir"), e.getMessage)
    } finally spark.conf.unset(Lineage.ReliableConf)
  }

  test("reliable checkpoints are value-invisible: P1 and the scrub " +
      "recipe return identical rows under the knob") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = graft.operators.Pipeline.pipelineFull(docs).collect()
      .map(_.toString).sorted.toSeq
    val baseScrub = graft.operators.Pipeline.pipelineScrub(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(base.nonEmpty && baseScrub.nonEmpty)
    val dir = TestDirs.create("graft_lineage_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Lineage.ReliableConf, "true")
    try {
      val rel = graft.operators.Pipeline.pipelineFull(docs).collect()
        .map(_.toString).sorted.toSeq
      val relScrub = graft.operators.Pipeline.pipelineScrub(docs)
        .collect().map(_.toString).sorted.toSeq
      assert(rel == base, "pipelineFull drifted under reliable mode")
      assert(relScrub == baseScrub,
        "pipelineScrub drifted under reliable mode")
      // the mode actually engaged: reliable checkpoint files landed
      val wrote = Option(new java.io.File(dir).listFiles())
        .exists(_.nonEmpty)
      assert(wrote, "no checkpoint data written — the knob did not " +
        "engage and this test pinned nothing")
    } finally {
      spark.conf.unset(Lineage.ReliableConf)
      graft.operators.ArtifactCache.rm(new java.io.File(dir))
      // the shared session has no public way to UNSET the checkpoint
      // dir; leave it pointing at a fresh empty temp dir so later
      // suites see the same observable state as before (no files)
      spark.sparkContext.setCheckpointDir(
        TestDirs.create("graft_lineage_ckpt_reset").toString)
    }
  }
}

package graftbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.types._
import graft.{GraftSession, SparkEntry}

/** corpus_batch: `Passes` passes of `pipeline_full` then `sim_join_lsh`,
  * fully evaluated at sf0.1 in the session users get; the first pass is
  * cold (class loading, JIT, codegen). `expected` maps
  * "v<variant>/<scale>/<query>" to (rows, hash) recorded from the
  * program as it stood when the benchmark was defined.
  */
final class CorpusWorkload(val variant: Int, traced: Boolean,
    expected: Map[String, (Long, String)], corpusDir: Path, workDir: Path, inject: Set[String]) {
  import CorpusWorkload.{Docs, Passes, Scale, Setups, Vecs}

  val queries = Seq("pipeline_full", "sim_join_lsh")
  private val spans = new Spans(traced)
  private val probe = new SparkProbe(traced)
  private var spark: SparkSession = _

  final case class Eval(query: String, scale: String, group: String, buildMs: Double,
      planMs: Double, execMs: Double, rows: Long, hash: String, plan: SparkPlan,
      span: Long, phases: Seq[(Long, Long, Long)])

  private def dir(scale: String) = corpusDir.resolve(s"v$variant").resolve(scale).toString

  def sessionUp(): SparkSession = {
    val s = GraftSession.builder("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def sessionDown(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private var evalNo = 0
  private val evals = mutable.ArrayBuffer[Eval]()

  /** Builds, plans and fully evaluates one registered query; the rows
    * come back to the driver (a few hundred) for the check.
    */
  def evaluate(s: SparkSession, q: String, scale: String): Eval = {
    evalNo += 1
    val group = s"$q@$scale#$evalNo"
    s.sparkContext.setJobGroup(group, q)
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(q)(s, dir(scale))
    val t1 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val schema = df.schema
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map(r => proj(r).copy())
    }.collect()
    val t3 = System.nanoTime()
    s.sparkContext.clearJobGroup()
    val qs = spans.add(-1, "operators.query", "operators", spans.wall(t0), spans.wall(t3), q)
    val phases = Seq(("operators.build", t0, t1), ("operators.plan", t1, t2), ("operators.execute", t2, t3))
      .map { case (n, a, b) => (spans.add(qs, n, "operators", spans.wall(a), spans.wall(b), q), spans.wall(a), spans.wall(b)) }
    val e = Eval(q, scale, group, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
      rows.length.toLong, CorpusWorkload.hash(rows.toSeq, schema), plan, qs, phases)
    evals += e
    e
  }

  private def check(e: Eval, failures: mutable.ArrayBuffer[String]): Unit = {
    val key = s"v$variant/${e.scale}/${e.query}"
    expected.get(key) match {
      case None => failures += s"no expected value recorded for $key"
      case Some((rows, hash0)) =>
        val hash = if (inject("wrong-expected")) "0" * 16 else hash0
        if (e.rows != rows || e.hash != hash)
          failures += s"$key: got ${e.rows} rows, hash ${e.hash}; expected $rows rows, hash $hash"
    }
  }

  def pass(s: SparkSession, scale: String, failures: mutable.ArrayBuffer[String]): (Double, Seq[Eval]) = {
    val t0 = System.nanoTime()
    val es = queries.map(q => evaluate(s, q, scale))
    val dt = (System.nanoTime() - t0) / 1e6
    es.foreach(check(_, failures))
    if (failures.nonEmpty) throw new CheckFailed(failures.mkString("; "))
    (dt, es)
  }

  def run(): Result = {
    val failures = mutable.ArrayBuffer[String]()
    // set-up: the session, with the corpus tables opened, several times
    val setupTimes = (0 until Setups).map { k =>
      val t0 = System.nanoTime()
      spark = sessionUp()
      for (t <- Seq("documents", "embeddings")) spark.read.parquet(s"${dir(Scale)}/$t.parquet").schema
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < Setups - 1) sessionDown(spark)
      dt
    }
    probe.attach(spark)
    val gc0 = Cpu.gcMs
    val heap = new HeapPeak()
    val passes = (0 until Passes).map(_ => pass(spark, Scale, failures))
    val gcMs = Cpu.gcMs - gc0
    val heapPeakMb = heap.stop() / 1048576.0
    settle()

    val corpusRows = Docs + Vecs
    val passMs = passes.map(_._1)
    // one query's wall time (build, plan, execute) in each pass
    def queryMs(q: String) = passes.map { case (_, es) =>
      es.find(_.query == q).map(e => e.buildMs + e.planMs + e.execMs).get
    }
    val lowMs = queryMs("sim_join_lsh")
    val highMs = queryMs("pipeline_full")
    val cpuPerPass = passes.map { case (_, es) => groupCpuMs(es.map(_.group)) }
    val attempted = Passes * queries.size.toLong
    val failed = probe.taskFailures
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "throughput_per_s" -> (corpusRows / (Stats.median(passMs) / 1e3), "1/s"),
      "cpu_ms_per_kitem" -> (Stats.median(cpuPerPass) / (corpusRows / 1000.0), "ms"),
      "lat_low_p50_ms" -> (Stats.pct(lowMs, 0.50), "ms"),
      "lat_low_p90_ms" -> (Stats.pct(lowMs, 0.90), "ms"),
      "lat_high_p50_ms" -> (Stats.pct(highMs, 0.50), "ms"),
      "lat_high_p90_ms" -> (Stats.pct(highMs, 0.90), "ms"))
    def ms(xs: Seq[Double]) = xs.map(x => f"$x%.0f").mkString(",")
    val notes = Seq(
      s"corpus variant v$variant ($corpusRows rows at sf0.1)",
      s"setup_s samples=${setupTimes.map(x => f"$x%.3f").mkString(",")}",
      s"passes (first cold) ms=${ms(passMs)}; sim_join_lsh ms=${ms(lowMs)}; pipeline_full ms=${ms(highMs)}")
    val layer =
      if (!traced) Nil
      else perLayer(passes.map(_._2), gcMs, heapPeakMb, failed, attempted)
    probe.detach(spark)
    sessionDown(spark)
    Result(correct = true, attempted, failed, e2e, layer, notes, Nil,
      if (traced) Some(spans) else None)
  }

  /** Waits until every started job has ended at the listener. */
  private def settle(): Unit = {
    val until = System.nanoTime() + 3000000000L
    while (System.nanoTime() < until && probe.synchronized(probe.jobs.values.exists(_.endMs < 0)))
      Thread.sleep(10)
    Thread.sleep(100)
  }

  private def jobsOf(groups: Seq[String]) = probe.synchronized {
    val gs = groups.toSet
    probe.jobs.values.filter(j => gs(j.group)).toSeq
  }

  private def groupCpuMs(groups: Seq[String]): Double =
    probe.stagesOf(jobsOf(groups)).map(_.cpuNs).sum / 1e6

  private def perLayer(passes: Seq[Seq[Eval]], gcMs: Long, heapPeakMb: Double, failed: Long,
      attempted: Long): Seq[(String, (Double, String))] = {
    def med(f: Seq[Eval] => Double) = Stats.median(passes.map(f))
    val perQuery = queries.flatMap { q =>
      def evalOf(es: Seq[Eval]) = es.find(_.query == q).get
      def js(es: Seq[Eval]) = jobsOf(Seq(evalOf(es).group))
      def ss(es: Seq[Eval]) = probe.stagesOf(js(es))
      val plan = evalOf(passes.last).plan
      val (exchanges, codegen) = CorpusWorkload.planShape(plan)
      Seq(
        s"operators.$q.plan_ms" -> (med(es => evalOf(es).planMs), "ms"),
        s"operators.$q.exec_ms" -> (med(es => evalOf(es).buildMs + evalOf(es).execMs), "ms"),
        s"operators.$q.jobs" -> (med(es => js(es).size.toDouble), "count"),
        s"operators.$q.stages" -> (med(es => ss(es).size.toDouble), "count"),
        s"operators.$q.tasks" -> (med(es => ss(es).map(_.tasks).sum.toDouble), "count"),
        s"operators.$q.task_cpu_ms" -> (med(es => ss(es).map(_.cpuNs).sum / 1e6), "ms"),
        s"operators.$q.task_gc_ms" -> (med(es => ss(es).map(_.gcMs).sum.toDouble), "ms"),
        s"operators.$q.shuffle_write_bytes" -> (med(es => ss(es).map(_.shuffleWrite).sum.toDouble), "bytes"),
        s"operators.$q.shuffle_read_bytes" -> (med(es => ss(es).map(_.shuffleRead).sum.toDouble), "bytes"),
        s"operators.$q.spill_bytes" -> (med(es => ss(es).map(_.spill).sum.toDouble), "bytes"),
        s"operators.$q.exchanges" -> (exchanges.toDouble, "count"),
        s"operators.$q.codegen_stages" -> (codegen.toDouble, "count"))
    }
    def pf(es: Seq[Eval]) = jobsOf(Seq(es.find(_.query == "pipeline_full").get.group))
    val checkpoint = "plans.pipeline_full.checkpoint_ms" ->
      (med(es => pf(es).filter(_.callFile == "Lineage.scala").map(j => (j.endMs - j.startMs).toDouble).sum), "ms")
    val byFile = Seq("CorpusOps", "Dedup", "Clusters", "Pipeline", "Lineage").map { f =>
      s"operators.pipeline_full.$f.cpu_ms" ->
        (med(es => probe.stagesOf(pf(es).filter(_.callFile == s"$f.scala")).map(_.cpuNs).sum / 1e6), "ms")
    }

    // spans: each evaluation's jobs under the phase they started in
    probe.emitSpans(spans, j => evals.find(_.group == j.group).map { e =>
      e.phases.find { case (_, a, b) => j.startMs * 1000000L >= a && j.startMs * 1000000L < b }
        .map(_._1).getOrElse(e.span)
    }.getOrElse(-1L), j => if (j.callFile == "Lineage.scala") "plans" else "operators")

    perQuery ++ Seq(checkpoint) ++ byFile ++ Seq(
      "streaming.task_failures" -> (failed.toDouble, "count"),
      "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
      "jvm.heap_peak_mb" -> (heapPeakMb, "MB"),
      "delivery.failed_frac" -> (failed.toDouble / attempted, "ratio"))
  }
}

object CorpusWorkload {
  /** Set-ups per run. The first is cold, so `setup_s`, their lower
    * median, is the median of the three warm ones.
    */
  val Setups = 4

  /** Passes per run. The first is cold (about 30 s on 4 cores, against
    * 11–16 s warm), so the median is a warm pass and the nearest-rank
    * p90 is the cold one: the first query in a fresh session.
    */
  val Passes = 3

  /** The corpus scale, and its documents and vectors (perfbench/run.py). */
  val Scale = "sf0.1"
  val Docs = 5000
  val Vecs = 2000

  /** Order-independent hash of the result rows. Doubles are rendered to
    * 12 significant digits, so a change of summation order does not
    * read as a different result.
    */
  def hash(rows: Seq[InternalRow], schema: StructType): String = {
    def render(v: Any, t: DataType): String = (v, t) match {
      case (null, _) => "∅"
      case (d: Double, _) => f"$d%.12g"
      case (f: Float, _) => f"${f.toDouble}%.6g"
      case (b: Array[Byte], _) => b.map(x => f"$x%02x").mkString
      case (a: ArrayData, ArrayType(et, _)) =>
        a.toSeq[Any](et).map(render(_, et)).mkString("[", ",", "]")
      case (m: MapData, MapType(kt, vt, _)) =>
        m.keyArray.toSeq[Any](kt).zip(m.valueArray.toSeq[Any](vt))
          .map { case (k, x) => render(k, kt) + ":" + render(x, vt) }.sorted.mkString("{", ",", "}")
      case (r: InternalRow, st: StructType) => row(r, st)
      case (x, _) => x.toString
    }
    def row(r: InternalRow, st: StructType): String =
      st.fields.indices.map(i => render(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType))
        .mkString("(", ",", ")")
    var a = 0L
    var b = 0L
    rows.foreach { r =>
      val s = row(r, schema)
      a += MurmurHash3.stringHash(s, 0x3c074a61) & 0xffffffffL
      b += MurmurHash3.stringHash(s, 0x7f4a7c15) & 0xffffffffL
    }
    f"${a & 0xffffffffL}%08x${b & 0xffffffffL}%08x"
  }

  /** (exchanges, whole-stage-codegen stages) of the final plan, looking
    * through adaptive wrappers, query stages and subqueries.
    */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var ex = 0
    var cg = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ReusedExchangeExec => ex += 1; return
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ex += 1
        case _: WholeStageCodegenExec => cg += 1
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, cg)
  }
}

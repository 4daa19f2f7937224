package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** What one run measured. `e2e` and `layer` map a metric name to
  * (value, unit); `failures` non-empty means a check failed.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Seq[(String, (Double, String))], layer: Seq[(String, (Double, String))],
    notes: Seq[String], failures: Seq[String], spans: Option[Spans])

/** Entry point of one benchmark run:
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --params perfbench/params.json --corpus DIR --variant V --work DIR --trace-dir DIR
  * }}}
  * `--corpus` holds one directory per corpus variant (`v<V>/<scale>`).
  * The last stdout line is the result JSON. A failed check exits 1 and
  * reports no timings.
  */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "cpu_ms_per_kitem" -> "ms",
    "lat_low_p50_ms" -> "ms", "lat_low_p90_ms" -> "ms",
    "lat_high_p50_ms" -> "ms", "lat_high_p90_ms" -> "ms")

  /** Every per-layer metric, reported by every workload; a layer a
    * workload bypasses reads 0 there.
    */
  val perLayer: Seq[(String, String)] = {
    val stream = Seq(
      "tail.lat_low_p99_ms" -> "ms", "tail.lat_high_p99_ms" -> "ms",
      "gen.late_p99_ms" -> "ms", "gen.publish_us_p50" -> "us", "gen.publish_us_p99" -> "us",
      "sources.broker.backlog_p99_msgs" -> "msgs", "sources.broker.backlog_slope_msgs_s" -> "msgs/s",
      "sources.broker.server_cpu_ms_per_kmsg" -> "ms", "sources.broker.client_cpu_ms_per_kmsg" -> "ms",
      "sources.broker.proxy_requests_per_batch" -> "count", "sources.broker.proxy_cpu_ms_per_kmsg" -> "ms") ++
      Seq("latest_offset_ms", "planning_ms", "wal_commit_ms", "commit_offsets_ms", "add_batch_ms")
        .flatMap(m => Seq(s"streaming.${m}_p50" -> "ms", s"streaming.${m}_p95" -> "ms")) ++ Seq(
      "streaming.fixed_ms" -> "ms", "streaming.ms_per_kmsg" -> "ms", "streaming.batches" -> "count",
      "streaming.rows_per_batch_p50" -> "count", "streaming.driver_cpu_ms_per_batch" -> "ms",
      "streaming.state_rows" -> "count", "streaming.state_mem_bytes" -> "bytes",
      "streaming.state_commit_ms" -> "ms", "sources.read_stage_cpu_ms_per_kmsg" -> "ms",
      "streaming.task_cpu_ms_per_kmsg" -> "ms", "streaming.task_gc_ms_per_kmsg" -> "ms",
      "streaming.tasks_per_batch" -> "count", "streaming.shuffle_bytes_per_kmsg" -> "bytes",
      "streaming.task_failures" -> "count")
    val ops = Seq("pipeline_full", "sim_join_lsh").flatMap { q =>
      Seq("plan_ms" -> "ms", "exec_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
        "tasks" -> "count", "task_cpu_ms" -> "ms", "task_gc_ms" -> "ms",
        "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
        "spill_bytes" -> "bytes", "exchanges" -> "count", "codegen_stages" -> "count")
        .map { case (m, u) => s"operators.$q.$m" -> u }
    }
    val files = Seq("CorpusOps", "Dedup", "Clusters", "Pipeline", "Lineage")
      .map(f => s"operators.pipeline_full.$f.cpu_ms" -> "ms")
    stream ++ ops ++ Seq("plans.pipeline_full.checkpoint_ms" -> "ms") ++ files ++ Seq(
      "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
      "delivery.dup_frac" -> "ratio", "delivery.failed_frac" -> "ratio") ++
      endToEnd.map { case (n, u) => s"traced.$n" -> u }
  }

  val workloads = Seq("wordcount_mem", "relay_tcp", "corpus_batch")

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch {
        case e: CheckFailed =>
          System.err.println(s"[bench] CHECK FAILED: ${e.getMessage}")
          println(Json.obj(Seq("correct" -> "false", "attempted" -> "1", "failed" -> "1",
            "metrics" -> "{}")))
          1
        case e: Throwable =>
          System.err.println(s"[bench] run failed: $e")
          e.printStackTrace()
          println(Json.obj(Seq("correct" -> "false", "attempted" -> "1", "failed" -> "1",
            "metrics" -> "{}")))
          1
      }
    System.out.flush()
    // Spark and broker threads are daemons or stopped; exit promptly
    Runtime.getRuntime.halt(code)
  }

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def need(args: Array[String], k: String): String =
    arg(args, k).getOrElse(throw new IllegalArgumentException(s"missing $k"))

  def run(args: Array[String]): Int = {
    val params = new ObjectMapper().readTree(Paths.get(need(args, "--params")).toFile)
    val work = Paths.get(need(args, "--work"))
    Files.createDirectories(work)
    val inject = arg(args, "--inject").map(_.split(",").toSet).getOrElse(Set.empty)
    if (args.contains("--record")) return record(Paths.get(need(args, "--corpus")), work)

    val workload = need(args, "--workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = need(args, "--seed").toLong
    val seconds = need(args, "--seconds").toDouble
    val traced = need(args, "--trace") == "1"
    val w = params.get(workload)
    val result = workload match {
      case "corpus_batch" =>
        new CorpusWorkload(need(args, "--variant").toInt, traced, expected(w), Paths.get(need(args, "--corpus")),
          work, inject).run()
      case name =>
        val sp = StreamParams(w.get("low_rate").asDouble, w.get("high_rate").asDouble,
          w.get("backlog").asInt, w.get("max_per_batch").asInt)
        new StreamWorkload(name, seed, seconds, traced,
          arg(args, "--deadline-s").map(d => sp.copy(deadlineS = d.toDouble)).getOrElse(sp),
          work, inject).run()
    }
    report(workload, seed, traced, result, arg(args, "--trace-dir").map(Paths.get(_)))
  }

  /** "v<variant>/<scale>/<query>" → (rows, hash) from params.json. */
  private def expected(w: JsonNode): Map[String, (Long, String)] =
    w.get("expected").properties.asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap

  private def report(workload: String, seed: Long, traced: Boolean, r: Result,
      traceDir: Option[Path]): Int = {
    r.notes.foreach(n => System.err.println(s"[bench] $n"))
    r.failures.foreach(f => System.err.println(s"[bench] CHECK FAILED: $f"))
    val unmeasured = r.e2e.collect { case (n, (v, _)) if v.isNaN || v.isInfinite || v <= 0 => n }
    if (!r.correct || unmeasured.nonEmpty) {
      if (unmeasured.nonEmpty)
        System.err.println(s"[bench] CHECK FAILED: not measured: ${unmeasured.mkString(", ")}")
      println(Json.obj(Seq("correct" -> "false", "attempted" -> r.attempted.toString,
        "failed" -> math.max(1L, r.failed).toString, "metrics" -> "{}")))
      return 1
    }
    val metrics: Seq[(String, (Double, String))] =
      if (!traced) r.e2e
      else {
        val got = (r.layer ++ r.e2e.map { case (n, v) => s"traced.$n" -> v }).toMap
        perLayer.map { case (n, u) =>
          val v = got.get(n).map(_._1).filterNot(x => x.isNaN || x.isInfinite).getOrElse(0.0)
          n -> (v, u)
        }
      }
    if (traced) r.spans.foreach { sp =>
      val dir = traceDir.getOrElse(Paths.get("."))
      Files.createDirectories(dir)
      val base = s"$workload-seed$seed"
      sp.write(dir.resolve(s"$base.spans.jsonl"))
      val table = Seq("span\tlayer\tcount\ttotal_ms\tself_ms") ++ sp.selfTimes().map {
        case (n, l, c, t, s) => f"$n\t$l\t$c\t$t%.3f\t$s%.3f"
      }
      Files.write(dir.resolve(s"$base.selftime.tsv"), (table.mkString("\n") + "\n").getBytes)
      System.err.println(s"[bench] self time per span (spans in ${dir.resolve(s"$base.spans.jsonl")}):")
      table.foreach(l => System.err.println(s"[bench]   $l"))
    }
    val body = metrics.map { case (n, (v, u)) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq("correct" -> "true", "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString, "metrics" -> Json.obj(body))))
    0
  }

  /** Prints the (rows, hash) of every corpus variant, scale and query:
    * the expected values the corpus check compares against.
    */
  private def record(corpus: Path, work: Path): Int = {
    val s = new CorpusWorkload(0, traced = false, Map.empty, corpus, work, Set.empty).sessionUp()
    val variants = Files.list(corpus).iterator.asScala.map(_.getFileName.toString)
      .collect { case d if d.startsWith("v") => d.drop(1).toInt }.toSeq.sorted
    val out = variants.flatMap { v =>
      val w = new CorpusWorkload(v, traced = false, Map.empty, corpus, work, Set.empty)
      val es = w.queries.map(q => w.evaluate(s, q, CorpusWorkload.Scale))
      es.map(e => s"v$v/${e.scale}/${e.query}" ->
        Json.obj(Seq("rows" -> e.rows.toString, "hash" -> Json.str(e.hash))))
    }
    s.stop()
    println(Json.obj(out))
    0
  }
}

package graft

import scala.util.{Failure, Success, Try}

/** Executor-loss chaos check for the `localCheckpoint` fault-tolerance
  * contract (the r18 verdict's #4). The Pipeline scaladoc states the
  * contract; until r19 nothing EXERCISED it — this main runs the P1
  * composed recipe under `local-cluster` (real executor JVMs, unlike
  * `local[*]` where executor loss cannot exist), kills every executor
  * process mid-lifetime, and asserts three documented outcomes:
  *
  *  - P1 `share = true`: the recipe's localCheckpoint blocks lived on
  *    the killed executors and lineage is truncated — re-reading the
  *    frame must FAIL LOUDLY (Spark cannot recompute past a local
  *    checkpoint), never silently return partial rows;
  *  - P1 `share = false`: STILL fails loudly — writing this harness
  *    exposed that the doc-level dedup stage's star contraction
  *    ([[graft.operators.Clusters]] clusterPairs) truncates lineage
  *    per round unconditionally, so `share = false` alone does not
  *    buy cluster-bearing recipes retry-ability (the Pipeline
  *    contract now states this; a reliable checkpoint dir is the
  *    cluster-scale answer);
  *  - P2 `share = false`: the span-scrub recipe is genuinely
  *    checkpoint-free — it recomputes on the replacement executors
  *    and returns the identical count;
  *  - (r20, scenario 4) P1 `share = true` under
  *    `spark.graft.reliableCheckpoint` + a checkpoint dir — the
  *    PRESCRIBED cluster-scale answer the first three scenarios
  *    point at: every Lineage.truncate site (the recipe shares AND
  *    Clusters' per-round star contraction) becomes a reliable
  *    `.checkpoint()`, a SECOND executor massacre follows, and the
  *    recount must return the identical rows — retry-ability, not
  *    just loud failure.
  *
  * Run as its own JVM (ChaosSpec forks it): the test session holds a
  * `local[*]` context and one JVM cannot host two SparkContexts.
  * Executor kill is deterministic: `local-cluster` workers launch
  * executor JVMs as CHILD PROCESSES of this JVM, so
  * `ProcessHandle.children` finds exactly them and `destroyForcibly`
  * is the real crash (no cooperative shutdown hooks) — the standalone
  * master then relaunches fresh executors, which hold no blocks.
  *
  * Exit 0 with the three `CHAOS_OK` lines = the contract holds.
  */
object ChaosCheck {
  private def executorPids(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.current().children().iterator().asScala
      .filter { p =>
        // match on /proc cmdline, not ProcessHandle.info: the JDK
        // returns an empty commandLine() for the executor JVMs (their
        // -cp argument alone is tens of KB) and the first chaos run
        // waited out its timeout with both executors healthy
        val cmdline = java.nio.file.Paths.get(s"/proc/${p.pid}/cmdline")
        (try new String(java.nio.file.Files.readAllBytes(cmdline), "UTF-8")
         catch { case _: java.io.IOException => "" })
          .contains("CoarseGrainedExecutorBackend")
      }
      .toSeq
  }

  private def waitFor(what: String, timeoutSec: Int = 180)(
      ok: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutSec * 1_000_000_000L
    while (!ok) {
      require(System.nanoTime() < deadline, s"timed out waiting: $what")
      Thread.sleep(500)
    }
  }

  def main(args: Array[String]): Unit = {
    // two executor JVMs of one core each: shuffles sized to 2 slots
    val spark = GraftSession.builder("local-cluster[2,1,1024]", 2)
      // ABSOLUTE paths: executors run with their cwd inside the
      // worker's app dir, so a relative `target/scala-2.13/classes`
      // entry silently resolves to nothing there — the graft classes
      // then fail to load DURING task deserialization, which the JDK
      // masks as a ClassCastException on the collection proxy (the
      // recorded ClassNotFoundException suppresses readResolve and
      // the raw proxy hits the Seq-typed field first)
      .config("spark.executor.extraClassPath",
        sys.props("java.class.path").split(java.io.File.pathSeparator)
          .map(p => new java.io.File(p).getAbsolutePath)
          .mkString(java.io.File.pathSeparator))
      // spark-submit injects the JDK-17 module options into executor
      // launches; a plain-java driver must pass them itself. Without
      // -Djdk.reflect.useDirectMethodHandle=false (part of this set)
      // task deserialization breaks subtly: ObjectStreamClass fails
      // to invoke Scala collections' DefaultSerializationProxy
      // readResolve and the raw proxy lands in Seq-typed plan fields
      // (a ClassCastException this harness hit before the fix).
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    waitFor("2 executors up") { executorPids().size >= 2 }

    val docs = spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet")

    // build ALL frames up front, so every localCheckpoint block this
    // harness cares about materializes NOW, on the executors about to
    // die. Three behaviors under audit:
    //  - P1 share=true: recipe-level checkpoints → must fail loudly;
    //  - P1 share=false: NO recipe-level checkpoints, but the
    //    doc-level dedup stage's star-contraction
    //    (Clusters.clusterPairs) truncates lineage per round by
    //    necessity → ALSO fails loudly (this harness EXPOSED that;
    //    the Pipeline contract now names it);
    //  - P2 share=false: span-level scrub dedup, genuinely
    //    checkpoint-free → must recompute to the identical count.
    val fullShared =
      graft.operators.Pipeline.pipelineFull(docs, share = true)
    val fullUnshared =
      graft.operators.Pipeline.pipelineFull(docs, share = false)
    val scrubUnshared =
      graft.operators.Pipeline.pipelineScrub(docs, share = false)
    val expectFull = fullUnshared.count()
    val expectScrub = scrubUnshared.count()
    require(expectFull > 0 && expectScrub > 0,
      "recipes returned no rows before the chaos")
    require(fullShared.count() == expectFull,
      "share=true and share=false disagreed BEFORE executor loss")

    // the crash: kill every executor JVM outright, then wait for the
    // standalone master's replacements (fresh processes, zero blocks)
    def killAllExecutors(): Unit = {
      val victims = executorPids()
      require(victims.size >= 2,
        s"expected >=2 executors, ${victims.size}")
      victims.foreach(_.destroyForcibly())
      waitFor("victims dead") { victims.forall(!_.isAlive) }
      val victimPids = victims.map(_.pid).toSet
      waitFor("replacement executor processes up") {
        val now = executorPids()
        now.size >= 2 && now.forall(p => !victimPids.contains(p.pid))
      }
      // process existence ≠ registration: wait until the driver's
      // block manager map shows two live executors again (the dead
      // ones are removed on the worker's exit report), then prove
      // they accept work with a trivial job before the assertions
      waitFor("replacements registered with the driver") {
        sc.getExecutorMemoryStatus.size - 1 >= 2
      }
      require(sc.parallelize(1 to 8, 8).count() == 8L,
        "replacement executors not schedulable")
    }
    killAllExecutors()

    def mustFailLoudly(label: String, df: org.apache.spark.sql.DataFrame)
        : Unit =
      Try(df.count()) match {
        case Success(n) =>
          System.err.println(
            s"CHAOS_FAIL: $label returned $n rows after losing every " +
              "checkpoint block — the loud-failure contract broke")
          sys.exit(1)
        case Failure(e) =>
          // AQE wraps the per-stage errors; the checkpoint loss may
          // sit in the message of a MULTIPLE_FAILURES wrapper rather
          // than a getCause chain — search both
          val msgs = Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).map(t =>
              s"${t.getClass.getSimpleName}: ${t.getMessage}").toSeq
          val loud = msgs.exists(m =>
            m.toLowerCase.contains("checkpoint") ||
              m.toLowerCase.contains("block"))
          require(loud, s"$label failed but named neither checkpoint " +
            s"nor block: ${msgs.take(3).mkString(" <- ")}")
          println(s"CHAOS_OK $label failed loudly: " +
            msgs.head.replace('\n', ' ').take(160))
      }

    // 1. recipe-level checkpoints (share=true): loud failure
    mustFailLoudly("pipelineFull share=true", fullShared)
    // 2. share=false on a CLUSTER-BEARING recipe: the star
    //    contraction's per-round checkpoints are still there — loud
    //    failure too (the contract names this; full retry-ability for
    //    cluster dedup needs a reliable checkpoint dir)
    mustFailLoudly("pipelineFull share=false (clusterPairs rounds)",
      fullUnshared)
    // 3. share=false on a checkpoint-free recipe: recomputes, same rows
    val recomputed = scrubUnshared.count()
    require(recomputed == expectScrub,
      s"pipelineScrub share=false recomputed $recomputed rows, " +
        s"expected $expectScrub")
    println(s"CHAOS_OK pipelineScrub share=false recomputed " +
      s"$recomputed rows after executor loss")

    // 4. the prescribed cluster-scale answer, EXERCISED (the r19
    //    verdict's #4): reliable checkpoint dir + the Lineage knob.
    //    Build the same cluster-bearing recipe on the replacement
    //    executors — every truncate site (recipe shares AND the
    //    star-contraction rounds) now writes checkpoint FILES — then
    //    massacre the executors AGAIN and require the identical
    //    recount. This is what scenarios 1–2 say localCheckpoint
    //    cannot give you; here it must actually survive.
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_chaos_ckpt")
    sc.setCheckpointDir(ckptDir.toString)
    spark.conf.set(graft.plans.Lineage.ReliableConf, "true")
    val fullReliable =
      graft.operators.Pipeline.pipelineFull(docs, share = true)
    require(fullReliable.count() == expectFull,
      "reliable-checkpoint run disagreed with the pre-chaos count " +
        "BEFORE the second executor loss")
    killAllExecutors()
    val survived = Try(fullReliable.count()) match {
      case Success(n) => n
      case Failure(e) =>
        System.err.println(
          s"CHAOS_FAIL: reliable-checkpoint recount THREW after " +
            s"executor loss — the prescribed answer does not hold: " +
            s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
        sys.exit(1)
        -1L
    }
    require(survived == expectFull,
      s"reliable-checkpoint recount returned $survived rows after " +
        s"executor loss, expected $expectFull")
    println(s"CHAOS_OK pipelineFull reliable-checkpoint recounted " +
      s"$survived rows identically after a second executor loss")

    spark.stop()
  }
}

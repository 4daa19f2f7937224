package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forks [[ChaosCheck]] (the executor-loss chaos harness) as its own
  * JVM: it needs a `local-cluster` master with real executor
  * processes, and this test JVM already holds the shared `local[*]`
  * context — one JVM cannot host two SparkContexts. The harness exits
  * 0 only when all four checkpoint-contract behaviors hold under
  * real executor kills: the three localCheckpoint outcomes plus the
  * reliable-checkpoint-dir survival (see the ChaosCheck scaladoc).
  */
class ChaosSpec extends AnyFunSuite {
  test("checkpoint contracts hold under executor loss: 3 loud " +
      "localCheckpoint outcomes + reliable-dir survival (forked)") {
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val addOpens = Seq("java.lang", "java.lang.invoke",
      "java.lang.reflect", "java.io", "java.net", "java.nio",
      "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx4g", "-Dspark.ui.enabled=false",
      // the harness's temp files land in a dir the suite deletes
      s"-Djava.io.tmpdir=${TestDirs.create("graft_chaos")}",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.ChaosCheck")
    val pb = new ProcessBuilder(cmd: _*)
    // the in-process Worker's executor command builder needs the
    // Scala version that load-spark-env.sh would normally export
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // drain on a thread: a blocking readAllBytes here would defeat
    // the waitFor timeout if the harness ever hangs
    val buf = new java.io.ByteArrayOutputStream()
    val reader = new Thread(() => proc.getInputStream.transferTo(buf))
    reader.start()
    val finished = proc.waitFor(12, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    reader.join(10000)
    val out = buf.toString("UTF-8")
    assert(finished, "chaos harness timed out after 12 minutes")
    val oks = out.linesIterator.filter(_.startsWith("CHAOS_OK")).toSeq
    assert(proc.exitValue() == 0 && oks.size == 4,
      s"chaos harness exit ${proc.exitValue()}, CHAOS_OK x${oks.size}\n" +
        out.linesIterator.filter(l => l.contains("CHAOS_") ||
          l.contains("Exception")).take(20).mkString("\n"))
    oks.foreach(info(_))
  }
}

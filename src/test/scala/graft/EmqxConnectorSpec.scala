package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, HDFSMetadataLog, OffsetSeqLog}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.model.EmqxMessage
import graft.sources.TopicMatcher
import graft.sources.broker.BrokerRegistry
import graft.sources.{EmqxForeachWriter, EmqxOffset, EmqxSink}
import graft.streaming.{GraftCheckpointFileManager, NioLocalFileSystem}

/** Connector coverage mirroring the reference's integration tests
  * (EMQXSourceIntegrationTest.java): message delivery across parallel
  * readers, ack-on-checkpoint, crash/recovery without loss, session
  * resumption, plus sink and wildcard semantics.
  */
class EmqxConnectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val brokerSeq = new AtomicInteger(0)
  private def freshBroker(): String = s"spec-broker-${brokerSeq.incrementAndGet()}"

  private def msg(topic: String, payload: String, qos: Int = 1,
      retained: Boolean = false) =
    EmqxMessage(topic, qos, retained, Map("src" -> "spec"),
      payload.getBytes(UTF_8))

  // ---- TopicMatcher (C4) ----

  test("topic filter wildcards follow MQTT semantics") {
    assert(TopicMatcher.matches("t/a/b", "t/a/b"))
    assert(!TopicMatcher.matches("t/a/b", "t/a"))
    assert(TopicMatcher.matches("t/a/b", "t/+/b"))
    assert(!TopicMatcher.matches("t/a/b", "t/+"))
    assert(TopicMatcher.matches("t/a/b", "t/#"))
    assert(TopicMatcher.matches("t", "t/#")) // # includes parent
    assert(TopicMatcher.matches("t/a/b", "#"))
    assert(!TopicMatcher.matches("$sys/x", "#")) // $-topics excluded
    assert(TopicMatcher.matches("t/a", "$share/g1/t/+")) // share unwrap
    assert(TopicMatcher.matches("t//b", "t/+/b")) // empty level
  }

  test("offset JSON serde round-trips (the split-serializer analogue)") {
    import graft.sources.EmqxOffset
    val o = EmqxOffset(Map("r-0" -> 17L, "r-1" -> 0L, "base_client.2" -> 9L))
    assert(EmqxOffset.fromJson(o.json()) == o)
    assert(EmqxOffset.fromJson(EmqxOffset(Map.empty).json()).positions.isEmpty)
  }

  // ---- Broker semantics (C5, C6, C7) ----

  test("shared subscription load-balances round-robin") {
    val b = BrokerRegistry.get(freshBroker())
    Seq("c0", "c1", "c2").foreach { c =>
      b.connect(c, cleanStart = true)
      b.subscribe(c, "$share/g/t/#", 1)
    }
    (0 until 9).foreach(i => b.publish(msg(s"t/$i", s"m$i")))
    val counts = Seq("c0", "c1", "c2").map(c => b.endOffset(c) - b.committedOffset(c))
    assert(counts.sum == 9)
    assert(counts.forall(_ == 3), s"unbalanced: $counts")
  }

  test("retained messages are delivered to new non-shared subscribers") {
    val b = BrokerRegistry.get(freshBroker())
    b.connect("pub", cleanStart = true)
    b.publish(msg("t/state", "v1", retained = true))
    b.connect("late", cleanStart = true)
    b.subscribe("late", "t/#", 1)
    val got = b.fetch("late", 0, b.endOffset("late"))
    assert(got.map(m => new String(m.payload, UTF_8)) == Seq("v1"))
    assert(got.head.retained)
  }

  test("session resume redelivers un-acked messages; ack drops them") {
    val b = BrokerRegistry.get(freshBroker())
    b.connect("c", cleanStart = true, sessionExpirySec = 3600)
    b.subscribe("c", "t/#", 1)
    b.publish(msg("t/1", "a")); b.publish(msg("t/1", "b"))
    b.disconnect("c")
    b.publish(msg("t/1", "c")) // arrives while disconnected
    val present = b.connect("c", cleanStart = false)
    assert(present)
    val redelivered = b.fetch("c", b.committedOffset("c"), b.endOffset("c"))
    assert(redelivered.map(m => new String(m.payload, UTF_8)) ==
      Seq("a", "b", "c"))
    b.ack("c", b.endOffset("c"))
    assert(b.fetch("c", b.committedOffset("c"), b.endOffset("c")).isEmpty)
  }

  test("delivery qos is min(publish qos, subscription qos)") {
    val b = BrokerRegistry.get(freshBroker())
    b.connect("c", cleanStart = true)
    b.subscribe("c", "t/#", 1)
    b.publish(msg("t/x", "p", qos = 2))
    assert(b.fetch("c", 0, 1).head.qos == 1)
  }

  // ---- Structured Streaming source (C1, C5, C6) ----

  /** .start() is async: wait until the stream's reader sessions are
    * subscribed before publishing, like waitUntilRunning in the
    * reference test (EMQXSourceIntegrationTest.java:95).
    */
  private def waitForSessions(b: graft.sources.broker.InMemoryBroker,
      clientids: Seq[String]): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!clientids.forall(b.sessionPresent) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(clientids.forall(b.sessionPresent), "readers never subscribed")
  }

  test("streaming source delivers messages across parallel readers") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    val ckpt = TestDirs.create("emqx-ckpt-").toString

    val df = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "r-")
      .option("group", "g").option("topicfilter", "t/#")
      .option("qos", 1).option("readers", 3)
      .load()
    val q = df.writeStream.format("memory").queryName("emqx_sink1")
      .option("checkpointLocation", ckpt).start()
    try {
      waitForSessions(b, (0 until 3).map(i => s"r-$i"))
      (0 until 30).foreach(i => b.publish(msg(s"t/k$i", s"payload-$i")))
      q.processAllAvailable()
      val rows = spark.table("emqx_sink1").collect()
      assert(rows.length == 30)
      val topics = rows.map(_.getAs[String]("topic")).toSet
      assert(topics == (0 until 30).map(i => s"t/k$i").toSet)
      assert(rows.forall(_.getAs[Map[String, String]]("properties")
        .get("src").contains("spec")))
      // round-robin across the 3 readers (C5)
      val perReader = (0 until 3).map(i => b.endOffset(s"r-$i"))
      assert(perReader.forall(_ == 10), s"unbalanced readers: $perReader")
      // ack-on-checkpoint lags one batch (the reference acks on
      // notifyCheckpointComplete, i.e. after the NEXT cycle): a second
      // batch must trim the first one's messages (C6)
      (0 until 3).foreach(i => b.publish(msg(s"t/extra$i", "x")))
      q.processAllAvailable()
      val committed = (0 until 3).map(i => b.committedOffset(s"r-$i")).sum
      assert(committed >= 30, s"first batch not acked: $committed")
    } finally q.stop()
  }

  test("recovery: restart from checkpoint picks up messages published while down") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    val ckpt = TestDirs.create("emqx-ckpt-").toString
    RecoveryCollector.clear()

    // memory sink can't recover from a checkpoint; collect via
    // foreach (same-JVM global set) like the reference's CollectSink.
    def start() = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "rec-")
      .option("group", "g").option("topicfilter", "t/#")
      .option("readers", 2)
      .load()
      .writeStream.foreach(new RecoveryCollector)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    waitForSessions(b, Seq("rec-0", "rec-1"))
    (0 until 10).foreach(i => b.publish(msg(s"t/a", s"m$i")))
    q1.processAllAvailable()
    q1.stop()
    // published while the query is down — sessions persist (C7)
    (10 until 20).foreach(i => b.publish(msg(s"t/a", s"m$i")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val seen = RecoveryCollector.seen()
    assert(seen == (0 until 20).map(i => s"m$i").toSet,
      s"lost messages: ${(0 until 20).map(i => s"m$i").toSet -- seen}")
  }

  test("start with broker offline: source retries and consumes once up") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    b.offline = true
    val ckpt = TestDirs.create("emqx-off-").toString
    val q = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "off-")
      .option("group", "g").option("topicfilter", "t/#")
      .option("readers", 2).load()
      .writeStream.format("memory").queryName("emqx_offline")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable() // runs against a down broker: no data, no crash
      assert(spark.table("emqx_offline").count() == 0)
      assert(q.isActive, "query died while broker offline")
      b.offline = false
      waitForSessions(b, Seq("off-0", "off-1"))
      b.publish(msg("t/late", "hello"))
      q.processAllAvailable()
      assert(spark.table("emqx_offline").count() == 1)
    } finally q.stop()
  }

  test("crash mid-stream: restart from checkpoint loses no messages") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    val ckpt = TestDirs.create("emqx-crash-").toString
    RecoveryCollector.clear()
    CrashOnce.reset()

    def start(crash: Boolean) = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "cr-")
      .option("group", "g").option("topicfilter", "t/#")
      .option("readers", 2).load()
      .writeStream
      .foreach(if (crash) new CrashingCollector else new RecoveryCollector)
      .option("checkpointLocation", ckpt).start()

    val q1 = start(crash = true)
    waitForSessions(b, Seq("cr-0", "cr-1"))
    (0 until 10).foreach(i => b.publish(msg("t/a", s"c$i")))
    // the sink throws mid-batch (the reference's CrashingTestEMQXSource)
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    val q2 = start(crash = false)
    q2.processAllAvailable()
    q2.stop()
    // at-least-once: everything published must be seen after recovery
    val seen = RecoveryCollector.seen()
    val expected = (0 until 10).map(i => s"c$i").toSet
    assert(expected.subsetOf(seen), s"lost after crash: ${expected -- seen}")
  }

  // ---- Sink (C8) + end-to-end pipeline (X4) ----

  test("batch sink publishes rows; subscriber receives them") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    b.connect("watcher", cleanStart = true)
    b.subscribe("watcher", "out/#", 1)
    import spark.implicits._
    val df = Seq(("out/1", 1, false, "hello"), ("out/2", 0, false, "world"))
      .toDF("topic", "qos", "retained", "body")
      .withColumn("payload", encode(col("body"), "UTF-8"))
      .drop("body")
    EmqxSink.publish(df, name)
    val got = b.fetch("watcher", 0, b.endOffset("watcher"))
      .map(m => (m.topic, new String(m.payload, UTF_8))).toSet
    assert(got == Set("out/1" -> "hello", "out/2" -> "world"))
  }

  test("end-to-end: emqx source -> watermarked windowed agg") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    val ckpt = TestDirs.create("emqx-win-").toString
    val windowed = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "win-")
      .option("group", "g").option("topicfilter", "m/#")
      .option("readers", 2).load()
      .select(col("topic"),
        // event time carried in the payload (epoch minutes)
        timestamp_seconds(col("payload").cast("string").cast("long") * 60)
          .as("ts"))
      .withWatermark("ts", "10 minutes")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
        col("topic"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val q = windowed.writeStream.format("memory").queryName("emqx_win")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      waitForSessions(b, Seq("win-0", "win-1"))
      // 3 messages in hour 10, 1 in hour 11 (minutes since epoch)
      Seq(600, 610, 620, 660).foreach(m =>
        b.publish(msg("m/x", m.toString)))
      q.processAllAvailable()
      val rows = spark.table("emqx_win").collect()
        .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").getTime / 3600000,
          r.getAs[Long]("n"))).toMap
      assert(rows.get(10L).contains(3L), s"got $rows")
      assert(rows.get(11L).contains(1L), s"got $rows")
    } finally q.stop()
  }

  test("end-to-end: emqx source -> wordcount -> emqx sink (the reference example)") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    b.connect("result-watcher", cleanStart = true)
    b.subscribe("result-watcher", "counts/#", 1)
    val ckpt = TestDirs.create("emqx-ckpt-").toString

    val counts = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "wc-")
      .option("group", "wc").option("topicfilter", "words/#")
      .option("readers", 2)
      .load()
      .select(explode(split(col("payload").cast("string"), " ")).as("word"))
      .groupBy("word").count()

    val q = counts.writeStream.outputMode("update")
      .foreach(new ForeachCountPublisher(name))
      .option("checkpointLocation", ckpt).start()
    try {
      waitForSessions(b, Seq("wc-0", "wc-1"))
      b.publish(msg("words/1", "spark flink spark"))
      b.publish(msg("words/2", "flink spark"))
      q.processAllAvailable()
      val got = b.fetch("result-watcher", 0, b.endOffset("result-watcher"))
        .map(m => (m.topic, new String(m.payload, UTF_8))).toMap
      assert(got.get("counts/spark").contains("3"), s"got: $got")
      assert(got.get("counts/flink").contains("2"), s"got: $got")
    } finally q.stop()
  }

  // ---- checkpoint files: GraftSession's manager vs Spark's default ----

  /** A session on the shared context with GraftSession's checkpoint
    * conf, next to the plain test session.
    */
  private lazy val graftSpark = {
    val s = spark.newSession()
    GraftSession.checkpointConf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** The managers behind a query's offset and commit logs (the
    * accessor is protected in Scala, public in bytecode).
    */
  private def fileManagers(q: StreamingQuery): Seq[CheckpointFileManager] = {
    val se = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    val get = classOf[HDFSMetadataLog[_]].getMethod("fileManager")
    Seq(se.offsetLog, se.commitLog)
      .map(get.invoke(_).asInstanceOf[CheckpointFileManager])
  }

  private def isGraftLocal(fm: CheckpointFileManager): Boolean = fm match {
    case g: GraftCheckpointFileManager =>
      g.localFileSystem.exists(_.isInstanceOf[NioLocalFileSystem])
    case _ => false
  }

  test("GraftSession checkpoints: graft manager writes the same files and modes; a plain session reads them") {
    val name = freshBroker()
    val b = BrokerRegistry.get(name)
    // one stateful query per session kind over the same messages: the
    // offset log, commit log, metadata and state-store deltas of each
    def start(s: SparkSession, tag: String, ckpt: String) =
      s.readStream.format("emqx")
        .option("broker", name).option("clientid", s"$tag-")
        .option("group", tag).option("topicfilter", "fmt/#")
        .option("readers", 1).load()
        .groupBy("topic").count()
        .writeStream.format("memory").queryName(s"ckpt_fmt_$tag")
        .outputMode("complete")
        .option("checkpointLocation", ckpt).start()
    val plainCkpt = TestDirs.create("ckpt-plain-").toString
    val graftCkpt = TestDirs.create("ckpt-graft-").toString
    val qp = start(spark, "fmtp", plainCkpt)
    val qg = start(graftSpark, "fmtg", graftCkpt)
    try {
      waitForSessions(b, Seq("fmtp-0", "fmtg-0"))
      (0 until 2).foreach { round =>
        (0 until 5).foreach(i => b.publish(msg(s"fmt/t$i", s"r$round")))
        qp.processAllAvailable()
        qg.processAllAvailable()
      }
      assert(fileManagers(qg).forall(isGraftLocal),
        s"graft session logs: ${fileManagers(qg).map(_.getClass)}")
      assert(!fileManagers(qp).exists(_.isInstanceOf[GraftCheckpointFileManager]))
    } finally { qp.stop(); qg.stop() }

    def mode(root: String, f: String) = java.nio.file.attribute
      .PosixFilePermissions.toString(
        Files.getPosixFilePermissions(java.nio.file.Paths.get(root, f)))
    val files = Seq("metadata", ".metadata.crc", "offsets", "commits",
      "offsets/0", "offsets/.0.crc", "commits/0", "commits/.0.crc",
      "state/0/0/1.delta", "state/0/0/.1.delta.crc")
    files.foreach { f =>
      assert(Files.exists(java.nio.file.Paths.get(graftCkpt, f)), s"graft run wrote no $f")
      assert(mode(graftCkpt, f) == mode(plainCkpt, f), s"mode of $f")
    }

    // Spark's own readers in a plain session read what the graft
    // manager wrote
    val offsets = new OffsetSeqLog(spark, s"$graftCkpt/offsets").getLatest()
    val commits = new CommitLog(spark, s"$graftCkpt/commits").getLatest()
    assert(offsets.isDefined && commits.isDefined)
    assert(commits.get._1 == offsets.get._1)
    val end = EmqxOffset.fromJson(offsets.get._2.offsets.head.get.json)
    assert(end.positions == Map("fmtg-0" -> 10L), s"offsets: $end")
  }

  test("checkpoints resume across a plain session and GraftSession, both ways, with no loss") {
    for ((first, second, tag) <- Seq(
        (spark, graftSpark, "p2g"), (graftSpark, spark, "g2p"))) {
      val name = freshBroker()
      val b = BrokerRegistry.get(name)
      val ckpt = TestDirs.create(s"ckpt-$tag-").toString
      RecoveryCollector.clear()
      def start(s: SparkSession) = s.readStream.format("emqx")
        .option("broker", name).option("clientid", s"$tag-")
        .option("group", "g").option("topicfilter", "t/#")
        .option("readers", 2).load()
        .writeStream.foreach(new RecoveryCollector)
        .option("checkpointLocation", ckpt).start()

      val q1 = start(first)
      waitForSessions(b, Seq(s"$tag-0", s"$tag-1"))
      (0 until 10).foreach(i => b.publish(msg("t/a", s"m$i")))
      q1.processAllAvailable()
      q1.stop()
      (10 until 20).foreach(i => b.publish(msg("t/a", s"m$i")))
      val q2 = start(second)
      try {
        q2.processAllAvailable()
        assert(fileManagers(q2).forall(isGraftLocal) == (second eq graftSpark))
      } finally q2.stop()
      val seen = RecoveryCollector.seen()
      val all = (0 until 20).map(i => s"m$i").toSet
      assert(seen == all, s"$tag lost: ${all -- seen}")
    }
  }
}

/** Crashes the first epoch that sees data, then behaves like
  * RecoveryCollector — the reference's CrashingTestEMQXSource
  * (throws in snapshotState) moved to the sink side.
  */
class CrashingCollector extends RecoveryCollector {
  override def process(row: org.apache.spark.sql.Row): Unit = {
    if (CrashOnce.shouldCrash()) throw new RuntimeException("Mocked error")
    super.process(row)
  }
}

object CrashOnce {
  private val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = crashed.set(false)
  def shouldCrash(): Boolean = crashed.compareAndSet(false, true)
}

/** Same-JVM collecting foreach sink (the reference's CollectSink). */
class RecoveryCollector
    extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(row: org.apache.spark.sql.Row): Unit =
    RecoveryCollector.add(new String(
      row.getAs[Array[Byte]]("payload"), UTF_8))
  override def close(errorOrNull: Throwable): Unit = ()
}

object RecoveryCollector {
  private val set = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def add(s: String): Unit = set.add(s)
  def clear(): Unit = set.clear()
  def seen(): Set[String] = {
    import scala.jdk.CollectionConverters._
    set.asScala.toSet
  }
}

/** Publishes (word,count) rows back to the broker — the WordCount
  * example's print() sink re-expressed as an EMQX publish.
  */
class ForeachCountPublisher(brokerName: String)
    extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(row: org.apache.spark.sql.Row): Unit = {
    val word = row.getAs[String]("word")
    val n = row.getAs[Long]("count")
    BrokerRegistry.get(brokerName).publish(EmqxMessage(
      s"counts/$word", 0, retained = false, Map.empty,
      n.toString.getBytes(UTF_8)))
  }
  override def close(errorOrNull: Throwable): Unit = ()
}

package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.GraftSession
import graft.model.EmqxMessage
import graft.sources.broker.{BrokerConf, BrokerRegistry, FetchProxy, InMemoryBroker, Mqtt5Server, NetworkMqttBroker}
import graft.streaming.StreamingOps

/** Settings of one stream workload: the offered rates, the size of one
  * drained backlog and the query's batch cap, read from params.json.
  */
final case class StreamParams(lowRate: Double, highRate: Double, backlog: Int,
    maxPerBatch: Int, deadlineS: Double = StreamWorkload.DeadlineS)

/** The generated input of one run. Every message is a pure function of
  * (seed, index), so the checks regenerate what they compare against.
  */
sealed trait Inputs {
  def message(i: Int): EmqxMessage
}

/** wordcount_mem input: `wordsPerMsg` words per message from a
  * `vocab`-word vocabulary with a seeded power-law (Zipf `skew`) rank
  * distribution.
  */
final class WordInputs(seed: Long, n: Int, vocab: Int, wordsPerMsg: Int, skew: Double)
    extends Inputs {
  private val cdf = {
    val w = (1 to vocab).map(r => 1.0 / math.pow(r, skew))
    val t = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
  }
  // word ids per message, drawn once in publish order
  val words: Array[Array[Int]] = {
    val rnd = new SplittableRandom(seed)
    Array.fill(n)(Array.fill(wordsPerMsg) {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    })
  }
  def word(id: Int): String = f"w$id%04d"
  def message(i: Int): EmqxMessage = EmqxMessage(s"in/${i % 16}", 1, retained = false,
    Map.empty, words(i).map(word).mkString(" ").getBytes(UTF_8))
}

/** relay_tcp input: seeded payload sizes from a 64 B – 4 KB mix and a
  * user property carrying the message id.
  */
final class RelayInputs(seed: Long) extends Inputs {
  private val sizes = Array(64, 64, 64, 64, 256, 256, 1024, 1024, 2048, 4096)
  def payload(i: Int): Array[Byte] = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val b = new Array[Byte](sizes(r.nextInt(sizes.length)))
    var k = 0
    while (k < b.length) {
      var v = r.nextLong()
      var j = 0
      while (j < 8 && k < b.length) { b(k) = v.toByte; v >>>= 8; j += 1; k += 1 }
    }
    b
  }
  def message(i: Int): EmqxMessage = EmqxMessage(s"in/${i % 16}", 1, retained = false,
    Map("id" -> i.toString, "producer" -> "bench-gen"), payload(i))
}

/** One stream workload run: set-up, rounds of open loop at the `low`
  * and `high` rates, then fixed backlogs drained by the running query.
  */
final class StreamWorkload(name: String, seed: Long, seconds: Double, traced: Boolean,
    p: StreamParams, workDir: java.nio.file.Path, inject: Set[String]) {

  private val relay = name == "relay_tcp"
  private val spans = new Spans(traced)
  private val probeSpark = new SparkProbe(traced)

  import StreamWorkload.{Rounds, Drains}

  // message index ranges, in publish order: the warm-up, `Rounds`
  // rounds of a low and a high segment (half the run), `Drains` backlogs
  private val segS = seconds * 0.5 / (2 * Rounds)
  private val ranges: Seq[(Int, Int)] = {
    val sizes = Seq(StreamWorkload.WarmupMsgs) ++
      Seq.fill(Rounds)(Seq((segS * p.lowRate).toInt, (segS * p.highRate).toInt)).flatten ++
      Seq.fill(Drains)(p.backlog)
    val at = sizes.map(math.max(1, _)).scanLeft(0)(_ + _)
    at.zip(at.tail)
  }
  private val warm = ranges.head
  private val lows = (0 until Rounds).map(r => ranges(1 + 2 * r))
  private val highs = (0 until Rounds).map(r => ranges(2 + 2 * r))
  private val backlogs = ranges.drop(1 + 2 * Rounds)
  private val total = ranges.last._2

  private val inputs: Inputs =
    if (relay) new RelayInputs(seed)
    else new WordInputs(seed, total, vocab = 5000, wordsPerMsg = 8, skew = 1.1)

  // ---- per-message bookkeeping --------------------------------------
  private val due = new Array[Long](total) // nanoTime the message was due
  private val late = new Array[Long](total) // how late its publish began
  private val firstSeen = Array.fill(total)(Long.MaxValue) // relay arrivals
  private val publishNs = mutable.ArrayBuffer[Long]() // generator call durations
  @volatile private var genFailures = 0L
  private val genFailureNotes = mutable.ArrayBuffer[String]()

  // wordcount: occurrence number of each word in each message, and the
  // probe's (count, time) updates per word
  private lazy val wi = inputs.asInstanceOf[WordInputs]
  private lazy val occ: Array[Array[Int]] = {
    val c = new Array[Int](5000)
    wi.words.map(ws => ws.map { w => c(w) += 1; c(w) })
  }
  private def cumCounts(upTo: Int): Array[Int] = {
    val c = new Array[Int](5000)
    var i = 0
    while (i < upTo) { wi.words(i).foreach(w => c(w) += 1); i += 1 }
    c
  }
  private val wcCounts = Array.fill(5000)(mutable.ArrayBuffer[Long]())
  private val wcTimes = Array.fill(5000)(mutable.ArrayBuffer[Long]())
  private val wcLatest = new Array[Long](5000)

  // relay: raw arrivals for the content check and duplicate count
  private val arrivals = mutable.ArrayBuffer[(String, String, Array[Byte])]()
  @volatile private var sentinelSeen = ""
  // guards the probe's records against the main thread's reads
  private val plock = new Object

  // ---- process-level samples ----------------------------------------
  private val cpuSamples = mutable.ArrayBuffer[(Long, Long)]() // (nanoTime, process cpu ns)
  private val backlogSamples = mutable.ArrayBuffer[(Long, Long)]() // (nanoTime, msgs)
  @volatile private var heapPeak = 0L

  private val readerBase = "bench-r"
  private val readers = Seq(s"${readerBase}0", s"${readerBase}1")

  private var spark: SparkSession = _
  private var backing: InMemoryBroker = _
  private var server: Mqtt5Server = _
  private var uri: String = _
  private var memName: String = _
  private var gen: NetworkMqttBroker = _
  private var genThreadIds = Set.empty[Long]
  private var query: StreamingQuery = _
  private var ckpt: String = _
  @volatile private var probeRunning = false
  private var probeThread: Thread = _

  private def sessionUp(): SparkSession = {
    val s = GraftSession.builder("local[2]")
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

  private def brokerUp(k: Int): Unit = {
    memName = s"bench-$name-$k"
    backing = BrokerRegistry.get(memName)
    if (relay) {
      server = new Mqtt5Server(backing, 0)
      uri = s"tcp://127.0.0.1:${server.actualPort}"
    } else uri = s"mem:$memName"
  }

  private def brokerDown(): Unit = {
    if (gen != null) { gen.closeAll(); gen = null }
    if (server != null) { server.close(); server = null }
    BrokerRegistry.remove(memName)
  }

  private def source(maxPerBatch: Int): DataFrame =
    spark.readStream.format("emqx")
      .option("broker", uri)
      .option("topicfilter", "in/#")
      .option("clientid", readerBase)
      .option("group", "bench")
      .option("readers", readers.size.toLong)
      .option("qos", 1L)
      .option("maxmessagesperbatch", maxPerBatch.toLong)
      .load()

  private def startQuery(maxPerBatch: Int): StreamingQuery = {
    val src = source(maxPerBatch)
    val in = if (inject("fail-task")) src.filter(StreamWorkload.failOnceUdf(col("topic"))) else src
    if (relay) {
      in.select(concat(lit("out/"), col("topic")).as("topic"), col("qos"),
        col("properties"), col("payload"))
        .writeStream.format("emqx")
        .option("broker", uri)
        .option("checkpointLocation", ckpt)
        .start()
    } else {
      val brokerUri = uri
      val sink: (DataFrame, Long) => Unit = (df, _) =>
        df.select(concat(lit("wc/"), col("word")).as("topic"), lit(1).as("qos"),
          col("count").cast("string").cast("binary").as("payload"))
          .write.format("emqx").option("broker", brokerUri).mode("append").save()
      StreamingOps.runningWordCount(in.select(col("payload")))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .start()
    }
  }

  // ---- probe: a plain subscriber on the backing broker ---------------
  private val probeId = "bench-probe"

  private def probeUp(): Unit = {
    backing.connect(probeId, cleanStart = true, 3600, None, None)
    backing.subscribe(probeId, if (relay) "out/#" else "wc/#", 1)
    probeRunning = true
    probeThread = new Thread(() => probeLoop(), "bench-probe")
    probeThread.setDaemon(true)
    probeThread.start()
  }

  private def probeDown(): Unit = {
    probeRunning = false
    if (probeThread != null) probeThread.join(5000)
    probeThread = null
  }

  private def probeLoop(): Unit = {
    var pos = backing.committedOffset(probeId)
    while (probeRunning) {
      val end = backing.endOffset(probeId)
      if (end > pos) {
        val msgs = backing.fetch(probeId, pos, end)
        val now = System.nanoTime()
        plock.synchronized(msgs.foreach(m => onArrival(m, now)))
        spans.add(-1, "probe.arrival", "harness", spans.wall(now), spans.wall(now),
          msgs.size.toString)
        backing.ack(probeId, end)
        pos = end
      } else backing.awaitActivity(1)
    }
  }

  private def onArrival(m: EmqxMessage, now: Long): Unit =
    if (relay) {
      val id = m.properties.getOrElse("id", "")
      id.toIntOption match {
        case Some(i) if i >= 0 && i < total =>
          if (firstSeen(i) == Long.MaxValue) firstSeen(i) = now
        case _ => if (id.startsWith("ready-")) sentinelSeen = id
      }
      arrivals += ((m.topic, id, m.payload))
    } else {
      val w = m.topic.stripPrefix("wc/")
      val id = if (w.length == 5 && w(0) == 'w') w.substring(1).toIntOption.getOrElse(-1) else -1
      if (id < 0) sentinelSeen = w
      else {
        val c = new String(m.payload, UTF_8).toLong
        wcCounts(id) += c
        wcTimes(id) += now
        if (c > wcLatest(id)) wcLatest(id) = c
      }
    }

  /** Every message in [from, until) has a result at the probe; for the
    * running counts, every word has reached its count after `until`.
    */
  private def awaitDelivered(from: Int, until: Int, deadlineNs: Long): Boolean = {
    val target = if (relay) null else cumCounts(until)
    def done = plock.synchronized {
      if (relay) (from until until).forall(firstSeen(_) != Long.MaxValue)
      else target.indices.forall(w => wcLatest(w) >= target(w))
    }
    while (!done) {
      if (System.nanoTime() > deadlineNs) return false
      Thread.sleep(5)
    }
    true
  }

  /** First time the probe saw count ≥ k for word w (counts only grow). */
  private def wcReached(w: Int, k: Long): Long = {
    val cs = wcCounts(w)
    var lo = 0
    var hi = cs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cs(m) >= k) hi = m else lo = m + 1 }
    if (lo < cs.length) wcTimes(w)(lo) else Long.MaxValue
  }

  // ---- generator: one thread, at most one broker connection ----------
  private def publishRange(from: Int, until: Int, rate: Double): Unit = {
    val t = new Thread(() => genLoop(from, until, rate), "bench-gen")
    t.start()
    t.join()
  }

  private def publishOne(i: Int): Unit = {
    val m = inputs.message(i)
    val a = System.nanoTime()
    if (relay) gen.publishAsync(m) else backing.publish(m)
    val b = System.nanoTime()
    publishNs += (b - a)
    spans.add(-1, "gen.publish", "harness>sources.broker", spans.wall(a), spans.wall(b), i.toString)
  }

  private def flush(): Unit = if (relay) {
    val a = System.nanoTime()
    try gen.flushPublishes()
    catch {
      case e: IllegalStateException =>
        genFailures += 1
        genFailureNotes += s"generator flush: ${e.getMessage}"
    }
    val b = System.nanoTime()
    publishNs += (b - a)
    spans.add(-1, "gen.flush", "harness>sources.broker", spans.wall(a), spans.wall(b))
  }

  /** Open loop when `rate` > 0 (each message due at start + i/rate, sent
    * when due or as soon as the generator catches up); as fast as
    * possible otherwise. Pipelined publishes are flushed in bounded
    * groups, as a real producer does: when a group is full, or while
    * idle at most every 10 ms.
    */
  private def genLoop(from: Int, until: Int, rate: Double): Unit = {
    val start = System.nanoTime() + 1000000L
    val step = if (rate > 0) 1e9 / rate else 0.0
    var i = from
    var pending = 0
    var lastFlush = start
    while (i < until) {
      val d = start + ((i - from) * step).toLong
      val now = System.nanoTime()
      if (d > now) {
        if (pending > 0 && now - lastFlush > 10000000L) { flush(); pending = 0; lastFlush = System.nanoTime() }
        java.util.concurrent.locks.LockSupport.parkNanos(d - System.nanoTime())
      } else {
        due(i) = d
        late(i) = now - d
        if (!(inject("drop-message") && i == lows.head._1)) publishOne(i)
        pending += 1
        i += 1
        if (pending >= StreamWorkload.FlushGroup) { flush(); pending = 0; lastFlush = System.nanoTime() }
      }
    }
    if (pending > 0) flush()
  }

  // ---- samplers -------------------------------------------------------
  @volatile private var sampling = false
  @volatile private var threadWindows = List.empty[ThreadCpuWindow]
  private def startSampler(): Thread = {
    sampling = true
    val t = new Thread(() => {
      while (sampling) {
        val now = System.nanoTime()
        val cpu = Cpu.processNs
        val bl = readers.map(r => backing.endOffset(r) - backing.committedOffset(r)).sum
        cpuSamples.synchronized {
          cpuSamples += ((now, cpu))
          backlogSamples += ((now, bl))
        }
        heapPeak = math.max(heapPeak, Cpu.heapUsedBytes)
        if (traced) threadWindows.foreach(_.sample())
        Thread.sleep(if (traced) 100 else 20)
      }
    }, "bench-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  private def cpuAt(nano: Long): Double = cpuSamples.synchronized {
    val s = cpuSamples.toIndexedSeq
    val j = s.indexWhere(_._1 >= nano)
    if (j <= 0) s.headOption.map(_._2.toDouble).getOrElse(Double.NaN)
    else {
      val (t0, c0) = s(j - 1)
      val (t1, c1) = s(j)
      c0 + (c1 - c0) * (nano - t0).toDouble / math.max(1L, t1 - t0)
    }
  }

  // ---- set-up --------------------------------------------------------
  private val setupNotes = mutable.ArrayBuffer[String]()

  /** One set-up: session, broker (and server), query, readers
    * subscribed and one sentinel round trip through the whole path.
    */
  private def setUp(k: Int, last: Boolean): Double = {
    val t0 = System.nanoTime()
    spark = sessionUp()
    val tSession = System.nanoTime()
    if (last) probeSpark.attach(spark)
    brokerUp(k)
    if (relay) {
      gen = new NetworkMqttBroker(BrokerConf(uri))
      val before = Cpu.threadsNow().keySet
      // connects the generator's one publisher connection before the
      // query exists, so its client thread is told apart from the sink's
      gen.publish(EmqxMessage("bench/hello", 1, retained = false, Map.empty, Array[Byte](1)))
      genThreadIds = Cpu.threadsNow().collect {
        case (id, (n, _)) if n.startsWith("mqtt5-client-") && !before(id) => id
      }.toSet
    }
    ckpt = workDir.resolve(s"ckpt-$k").toString
    probeUp()
    query = startQuery(p.maxPerBatch)
    val tQuery = System.nanoTime()
    // sentinel: proves readers are subscribed and the path is live
    val sentinel = EmqxMessage("in/0", 1, retained = false,
      Map("id" -> s"ready-$k"), "ready".getBytes(UTF_8))
    val deadline = System.nanoTime() + (StreamWorkload.SetupDeadlineS * 1e9).toLong
    var ok = false
    var lastSend = 0L
    while (!ok && System.nanoTime() < deadline && query.isActive) {
      if (System.nanoTime() - lastSend > 250000000L) {
        // the first publish may precede the readers' subscription
        if (relay) { gen.publishAsync(sentinel); gen.flushPublishes() }
        else backing.publish(sentinel)
        lastSend = System.nanoTime()
      }
      Thread.sleep(2)
      ok = sentinelSeen == (if (relay) s"ready-$k" else "ready")
    }
    if (!ok) throw new CheckFailed(s"set-up $k: sentinel did not reach the probe " +
      s"(query active=${query.isActive}, ${query.exception.map(_.getMessage).getOrElse("")})")
    val dt = (System.nanoTime() - t0) / 1e9
    setupNotes += f"set-up $k: session ${(tSession - t0) / 1e9}%.2f s, query started ${(tQuery - t0) / 1e9}%.2f s, first result ${dt}%.2f s"
    if (!last) {
      query.stop()
      probeDown()
      brokerDown()
      sessionDown(spark)
      plock.synchronized(arrivals.clear())
      sentinelSeen = ""
    }
    dt
  }

  // ---- the run --------------------------------------------------------
  final case class PhaseOut(lat: Seq[Double], startNano: Long, endNano: Long)

  private def latencies(from: Int, until: Int): Seq[Double] = plock.synchronized {
    if (relay) (from until until).map(i =>
      if (firstSeen(i) == Long.MaxValue) Double.PositiveInfinity
      else (firstSeen(i) - due(i)) / 1e6)
    else {
      // k-th occurrence of a word is delivered when the probe first sees
      // count ≥ k; a message is delivered when all its words are
      (from until until).map { i =>
        wi.words(i).indices.map(j => wcReached(wi.words(i)(j), occ(i)(j).toLong)).max match {
          case Long.MaxValue => Double.PositiveInfinity
          case t => (t - due(i)) / 1e6
        }
      }
    }
  }

  private def openLoop(range: (Int, Int), rate: Double): PhaseOut = {
    val a = System.nanoTime()
    publishRange(range._1, range._2, rate)
    val ok = awaitDelivered(range._1, range._2, System.nanoTime() + (p.deadlineS * 1e9).toLong)
    val b = System.nanoTime()
    if (!ok) undelivered += countUndelivered(range._1, range._2)
    PhaseOut(latencies(range._1, range._2).filterNot(_.isInfinite), a, b)
  }

  private var undelivered = 0L
  private def countUndelivered(from: Int, until: Int): Long = plock.synchronized {
    if (relay) (from until until).count(firstSeen(_) == Long.MaxValue).toLong
    else {
      val c = cumCounts(until)
      c.indices.map(w => math.max(0L, c(w) - wcLatest(w))).sum
    }
  }

  def run(): Result = {
    val setupTimes = (0 until StreamWorkload.Setups).map(k => setUp(k, last = k == StreamWorkload.Setups - 1))
    val sampler = startSampler()
    val gc0 = Cpu.gcMs
    // warm-up: a burst as fast as the generator can, so JIT and codegen
    // settle on as many messages as the time allows; not timed
    publishRange(warm._1, warm._2, 0.0)
    if (!awaitDelivered(warm._1, warm._2, System.nanoTime() + (p.deadlineS * 1e9).toLong))
      undelivered += countUndelivered(warm._1, warm._2)

    // open loop: low and high segments alternate, so a stretch of a busy
    // host lands in one segment of each rate, not in a whole phase
    val olWin = if (traced) new ThreadCpuWindow(genThreadIds) else null
    if (traced) threadWindows = List(olWin)
    val proxy0 = FetchProxy.requestsServed.get
    val genMark = publishNs.size
    val outs = (0 until Rounds).map(r => (openLoop(lows(r), p.lowRate), openLoop(highs(r), p.highRate)))
    val (lowOuts, highOuts) = (outs.map(_._1), outs.map(_._2))
    val proxy1 = FetchProxy.requestsServed.get
    val genCalls = publishNs.slice(genMark, publishNs.size).map(_ / 1e3)
    if (traced) olWin.sample()

    // drains: fixed backlogs, each published as fast as the generator
    // can into the running query (its batch cap was fixed at start)
    val dWin = if (traced) new ThreadCpuWindow(genThreadIds) else null
    if (traced) threadWindows = List(dWin)
    if (inject("fail-task")) StreamWorkload.failOnce.set(true)
    val burstNanos = backlogs.map { case (from, until) =>
      val t0 = System.nanoTime()
      publishRange(from, until, 0.0)
      if (!awaitDelivered(from, until, System.nanoTime() + (p.deadlineS * 1e9).toLong))
        undelivered += countUndelivered(from, until)
      t0
    }
    if (traced) dWin.sample()
    val qid = query.id.toString
    // let the last progress events and listener callbacks land
    val settleUntil = System.nanoTime() + 3000000000L
    while (System.nanoTime() < settleUntil &&
      probeSpark.progressOf(qid).map(_.batchId).maxOption.getOrElse(-1L) <
        Option(query.lastProgress).map(_.batchId).getOrElse(-1L)) Thread.sleep(10)
    query.stop()
    Thread.sleep(200)
    sampling = false
    sampler.join()
    val gcMs = Cpu.gcMs - gc0
    probeDown()

    // ---- checks ----
    val failures = mutable.ArrayBuffer[String]()
    if (undelivered > 0) failures += s"$undelivered messages undelivered by the phase deadline"
    val dupCount: Long = if (relay) checkRelay(failures) else checkWordCount(failures)
    probeSpark.failureNotes.foreach(n => System.err.println(s"[bench] $n"))
    genFailureNotes.foreach(n => System.err.println(s"[bench] $n"))

    val prog = probeSpark.progressOf(qid)
    // open-loop batches started in the open-loop rounds; drain batches
    // ran while the backlogs were in
    val burstMs = spans.wall(burstNanos.head) / 1000000L
    val lowMs = spans.wall(lowOuts.head.startNano) / 1000000L
    val openBatches = prog.filter(b => b.startMs >= lowMs && b.startMs < burstMs &&
      b.startMs + b.durations.getOrElse("triggerExecution", 0L) <= burstMs)
    val drainBatches = prog.filter(b => b.startMs + b.durations.getOrElse("triggerExecution", 0L) >= burstMs)
    // each drain: from its burst until the probe saw its last result
    val drainSpans = backlogs.zip(burstNanos).map { case ((from, until), t0) =>
      (t0, plock.synchronized(lastResultAt(from, until)))
    }
    val kmsg = p.backlog / 1000.0
    val drainRates = drainSpans.map { case (a, b) => p.backlog / ((b - a) / 1e9) }
    val drainCpu = drainSpans.map { case (a, b) => (cpuAt(b) - cpuAt(a)) / 1e6 / kmsg }

    val failedCount = undelivered + probeSpark.taskFailures + probeSpark.queryFailures + genFailures
    val attempted = total.toLong
    def segPct(os: Seq[PhaseOut], q: Double) = Stats.median(os.map(o => Stats.pct(o.lat, q)))
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupTimes), "s"),
      "throughput_per_s" -> (Stats.median(drainRates), "1/s"),
      "cpu_ms_per_kitem" -> (Stats.median(drainCpu), "ms"),
      "lat_low_p50_ms" -> (segPct(lowOuts, 0.50), "ms"),
      "lat_low_p90_ms" -> (segPct(lowOuts, 0.90), "ms"),
      "lat_high_p50_ms" -> (segPct(highOuts, 0.50), "ms"),
      "lat_high_p90_ms" -> (segPct(highOuts, 0.90), "ms"))
    def ms(xs: Seq[Double]) = xs.map(x => f"$x%.0f").mkString(",")
    val notes = setupNotes.toSeq ++ Seq(
      s"setup_s samples=${setupTimes.map(x => f"$x%.3f").mkString(",")}",
      s"lat_low rate=${p.lowRate}/s samples=${lowOuts.map(_.lat.size).mkString(",")} " +
        s"p50 ms=${ms(lowOuts.map(o => Stats.pct(o.lat, 0.5)))}",
      s"lat_high rate=${p.highRate}/s samples=${highOuts.map(_.lat.size).mkString(",")} " +
        s"p50 ms=${ms(highOuts.map(o => Stats.pct(o.lat, 0.5)))}",
      s"drains ${Drains}x${p.backlog} maxmessagesperbatch=${p.maxPerBatch} " +
        s"batches=${drainBatches.count(_.rows > 0)} msgs/s=${ms(drainRates)}",
      s"duplicates=$dupCount attempted=$attempted failed=$failedCount")

    val layer: Seq[(String, (Double, String))] =
      if (!traced) Nil
      else perLayer(prog, openBatches, drainBatches, lowOuts, highOuts, genCalls, proxy1 - proxy0,
        olWin, dWin, Drains * kmsg, gcMs, dupCount, failedCount, attempted)

    cleanup()
    Result(failures.isEmpty, attempted, failedCount, e2e, layer, notes, failures.toSeq,
      if (traced) Some(spans) else None)
  }

  private def cleanup(): Unit = {
    probeSpark.detach(spark)
    brokerDown()
    sessionDown(spark)
  }

  /** When the probe first saw the final result of everything in [0, upTo). */
  private def lastResultAt(from: Int, until: Int): Long =
    if (relay) (from until until).map(firstSeen).max
    else {
      val c = cumCounts(until)
      c.indices.filter(c(_) > 0).map(w => wcReached(w, c(w).toLong)).max
    }

  private def checkRelay(failures: mutable.ArrayBuffer[String]): Long = {
    val ri = inputs.asInstanceOf[RelayInputs]
    val seen = new Array[Int](total)
    var bad = 0
    arrivals.foreach { case (topic, id, payload) =>
      id.toIntOption match {
        case Some(i) if i >= 0 && i < total =>
          seen(i) += 1
          // the injected fault expects a topic the relay never maps to
          val want = if (inject("wrong-expected") && i == 0) "out/wrong" else s"out/in/${i % 16}"
          if (topic != want || !java.util.Arrays.equals(payload, ri.payload(i))) {
            if (bad < 3) failures += s"message $i arrived as $topic with ${payload.length} B (expected $want, ${ri.payload(i).length} B)"
            bad += 1
          }
        case _ if id.startsWith("ready-") => ()
        case _ => failures += s"unexpected output id '$id' on $topic"
      }
    }
    val missing = seen.count(_ == 0)
    if (missing > 0) failures += s"$missing published ids never arrived"
    if (bad > 3) failures += s"$bad messages arrived altered"
    seen.map(c => math.max(0, c - 1).toLong).sum
  }

  private def checkWordCount(failures: mutable.ArrayBuffer[String]): Long = {
    // the final count per word equals the generator's own count; the
    // sentinel word from set-up is outside the vocabulary
    val c = cumCounts(total)
    if (inject("wrong-expected")) c(0) += 1
    val wrong = c.indices.filter(w => wcLatest(w) != c(w))
    if (wrong.nonEmpty) failures += s"${wrong.size} words end with a wrong count, e.g. " +
      wrong.take(3).map(w => s"${wi.word(w)}=${wcLatest(w)} (expected ${c(w)})").mkString(", ")
    c.indices.map(w => math.max(0L, wcLatest(w) - c(w))).sum
  }

  private def perLayer(prog: Seq[SparkProbe#Progress], ol: Seq[SparkProbe#Progress],
      drain: Seq[SparkProbe#Progress], lowOuts: Seq[PhaseOut], highOuts: Seq[PhaseOut],
      genCalls: collection.Seq[Double], proxyReqs: Long, olWin: ThreadCpuWindow,
      dWin: ThreadCpuWindow, kmsg: Double, gcMs: Long, dupCount: Long, failedCount: Long,
      attempted: Long): Seq[(String, (Double, String))] = {
    def d(b: SparkProbe#Progress, k: String) = b.durations.getOrElse(k, 0L).toDouble
    def pq(k: String, q: Double) = Stats.pct(ol.map(d(_, k)), q)
    val withRows = (ol ++ drain).filter(_.rows > 0)
    val (fixed, slope) = Stats.fit(withRows.map(_.rows / 1000.0), withRows.map(d(_, "triggerExecution")))
    val olBatches = math.max(1, ol.size).toDouble

    // Spark work of the drain batches
    val drainIds = drain.map(_.batchId).toSet
    val drainJobs = probeSpark.jobs.values.filter(j => drainIds(j.batchId)).toSeq
    val dStages = probeSpark.stagesOf(drainJobs)
    val readStages = dStages.filter(_.leaf)
    // broker backlog in the high segments; the slope is fitted per segment
    val blSegs = highOuts.map(o => backlogSamples.synchronized(
      backlogSamples.filter(s => s._1 >= o.startNano && s._1 <= o.endNano).toSeq))
    val bl = blSegs.flatten
    val blSlope = Stats.median(blSegs.map(seg => Stats.fit(seg.map(_._1 / 1e9), seg.map(_._2.toDouble))._2)
      .filterNot(_.isNaN))
    val lates = (lows.head._1 until highs.last._2).map(late(_) / 1e6)
    val lastState = prog.lastOption

    // spans: batches and their phases, rebuilt from progress
    val batchSpan = mutable.Map[Long, (Long, Seq[(String, Long, Long, Long)])]()
    prog.foreach { b =>
      val s0 = b.startMs * 1000000L
      val bs = spans.add(-1, "streaming.batch", "streaming", s0,
        s0 + d(b, "triggerExecution").toLong * 1000000L, b.batchId.toString)
      var t = s0
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .map { ph =>
          val len = d(b, ph).toLong * 1000000L
          val id = spans.add(bs, s"streaming.$ph", "streaming", t, t + len, b.batchId.toString)
          val r = (ph, id, t, t + len)
          t += len
          r
        }
      batchSpan(b.batchId) = (bs, phases)
    }
    probeSpark.emitSpans(spans, j => batchSpan.get(j.batchId).map { case (bs, phases) =>
      phases.find { case (_, _, a, b) => j.startMs * 1000000L >= a && j.startMs * 1000000L < b }
        .map(_._2).getOrElse(bs)
    }.getOrElse(-1L), _ => "streaming")

    Seq(
      // a micro-batch's messages share its fate: p99 is about half of the
      // single slowest batch, so it is reported here, without a bound
      "tail.lat_low_p99_ms" -> (Stats.pct(lowOuts.flatMap(_.lat), 0.99), "ms"),
      "tail.lat_high_p99_ms" -> (Stats.pct(highOuts.flatMap(_.lat), 0.99), "ms"),
      "gen.late_p99_ms" -> (Stats.pct(lates, 0.99), "ms"),
      "gen.publish_us_p50" -> (Stats.pct(genCalls, 0.50), "us"),
      "gen.publish_us_p99" -> (Stats.pct(genCalls, 0.99), "us"),
      "sources.broker.backlog_p99_msgs" -> (Stats.pct(bl.map(_._2.toDouble), 0.99), "msgs"),
      "sources.broker.backlog_slope_msgs_s" -> (if (blSlope.isNaN) 0.0 else blSlope, "msgs/s"),
      "sources.broker.server_cpu_ms_per_kmsg" -> (dWin.ms("mqtt5-conn-", "mqtt5-deliver-") / kmsg, "ms"),
      "sources.broker.client_cpu_ms_per_kmsg" -> (dWin.ms("mqtt5-client-") / kmsg, "ms"),
      "sources.broker.proxy_requests_per_batch" -> (proxyReqs / olBatches, "count"),
      "sources.broker.proxy_cpu_ms_per_kmsg" -> (dWin.ms("fetch-proxy-") / kmsg, "ms"),
      "streaming.latest_offset_ms_p50" -> (pq("latestOffset", 0.5), "ms"),
      "streaming.latest_offset_ms_p95" -> (pq("latestOffset", 0.95), "ms"),
      "streaming.planning_ms_p50" -> (pq("queryPlanning", 0.5), "ms"),
      "streaming.planning_ms_p95" -> (pq("queryPlanning", 0.95), "ms"),
      "streaming.wal_commit_ms_p50" -> (pq("walCommit", 0.5), "ms"),
      "streaming.wal_commit_ms_p95" -> (pq("walCommit", 0.95), "ms"),
      "streaming.commit_offsets_ms_p50" -> (pq("commitOffsets", 0.5), "ms"),
      "streaming.commit_offsets_ms_p95" -> (pq("commitOffsets", 0.95), "ms"),
      "streaming.add_batch_ms_p50" -> (pq("addBatch", 0.5), "ms"),
      "streaming.add_batch_ms_p95" -> (pq("addBatch", 0.95), "ms"),
      "streaming.fixed_ms" -> (fixed, "ms"),
      "streaming.ms_per_kmsg" -> (slope, "ms"),
      "streaming.batches" -> (ol.size.toDouble, "count"),
      "streaming.rows_per_batch_p50" -> (Stats.median(ol.map(_.rows.toDouble)), "count"),
      "streaming.driver_cpu_ms_per_batch" -> (olWin.ms("stream execution thread") / olBatches, "ms"),
      "streaming.state_rows" -> (lastState.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      "streaming.state_mem_bytes" -> (lastState.map(_.stateMem.toDouble).getOrElse(0.0), "bytes"),
      "streaming.state_commit_ms" -> (Stats.median(ol.map(_.stateCommitMs.toDouble)), "ms"),
      "sources.read_stage_cpu_ms_per_kmsg" -> (readStages.map(_.cpuNs).sum / 1e6 / kmsg, "ms"),
      "streaming.task_cpu_ms_per_kmsg" -> (dStages.map(_.cpuNs).sum / 1e6 / kmsg, "ms"),
      "streaming.task_gc_ms_per_kmsg" -> (dStages.map(_.gcMs).sum / kmsg, "ms"),
      "streaming.tasks_per_batch" -> (dStages.map(_.tasks).sum.toDouble / math.max(1, drain.count(_.rows > 0)), "count"),
      "streaming.shuffle_bytes_per_kmsg" -> (dStages.map(_.shuffleWrite).sum / kmsg, "bytes"),
      "streaming.task_failures" -> (probeSpark.taskFailures.toDouble, "count"),
      "jvm.gc_ms" -> (gcMs.toDouble, "ms"),
      "jvm.heap_peak_mb" -> (heapPeak / 1048576.0, "MB"),
      "delivery.dup_frac" -> (dupCount.toDouble / attempted, "ratio"),
      "delivery.failed_frac" -> (failedCount.toDouble / attempted, "ratio"))
  }
}

object StreamWorkload {
  /** Set-ups per run. The first takes 10–20 s cold on 4 cores, the warm
    * ones about 1 s, so `setup_s`, their lower median, is the median of
    * the three warm ones.
    */
  val Setups = 4

  /** The cold first set-up is not held to the phase deadline. */
  val SetupDeadlineS = 90.0

  /** Messages through the query before anything is timed. */
  val WarmupMsgs = 40000

  /** Low/high open-loop rounds, and drained backlogs; each `lat_*` and
    * drain figure is the median over them.
    */
  val Rounds = 3
  val Drains = 3

  /** The generator flushes its pipelined publishes in groups this big. */
  val FlushGroup = 256

  /** Per phase: how long delivery may take before messages count as lost. */
  val DeadlineS = 30.0

  /** Test hook: once armed, the next task that reads a row throws. */
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  val failOnceUdf = udf { (_: String) =>
    if (failOnce.getAndSet(false)) throw new IllegalStateException("injected task failure")
    true
  }
}

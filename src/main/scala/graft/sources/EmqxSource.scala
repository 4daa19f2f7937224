package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.EmqxMessage
import graft.sources.broker.{BrokerConf, BrokerRegistry}

/** Structured Streaming source for EMQX — the Spark-first counterpart
  * of the reference's EMQXSource (EMQXSource.java:34).
  *
  * Architecture mapping (SURVEY §4):
  *   - Flink split = clientid per subtask (EMQXSplitEnumerator.java:55)
  *     → one InputPartition per reader slot, clientid = base+i, all
  *     members of the same `$share/<group>/<filter>` subscription.
  *   - ack-on-checkpoint (EMQXSourceReader.java:186) →
  *     MicroBatchStream.commit(offset) acks up to the committed
  *     offset; un-acked messages are replayed after recovery
  *     (at-least-once).
  *   - DeserializationSchema → column-level decoders
  *     (graft.functions.Payloads) applied to the fixed envelope
  *     schema.
  *
  * Options: `broker` (registry name — the host:port analogue),
  * `clientid` (base), `group`, `topicfilter`, `qos`, `readers`.
  */
class EmqxSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "emqx"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EmqxMessage.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EmqxTable(new CaseInsensitiveStringMap(properties))
}

class EmqxTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  /** Connection conf from DataSource options: `broker` (mem name or
    * tcp://host:port or ssl://host:port), `username`, `password`,
    * `sessionexpirysec`, `keepalivesec`, `connecttimeoutms` — the
    * production surface the reference leaves to HiveMQ client config
    * (EMQXSourceReader.java:92–105, incl. its hardcoded
    * sessionExpiryInterval(60) TODO).
    */
  private[sources] def brokerConf: BrokerConf = BrokerConf(
    uri = Option(options.get("broker")).getOrElse(
      throw new IllegalArgumentException("emqx requires option 'broker'")),
    username = Option(options.get("username")),
    password = Option(options.get("password")),
    authMethod = Option(options.get("authmethod")),
    sessionExpirySec = options.getLong("sessionexpirysec", 3600L),
    keepAliveSec = options.getInt("keepalivesec", 30),
    connectTimeoutMs = options.getInt("connecttimeoutms", 5000),
    truststorePath = Option(options.get("truststorepath")),
    truststorePassword = Option(options.get("truststorepassword")),
    proxyKeystorePath = Option(options.get("proxykeystorepath")),
    proxyKeystorePassword = Option(options.get("proxykeystorepassword")))

  override def name(): String =
    s"emqx:${options.get("broker")}/${options.get("topicfilter")}"
  override def schema(): StructType = EmqxMessage.schema
  override def capabilities(): util.Set[TableCapability] =
    // ACCEPT_ANY_SCHEMA: writes may provide a subset of the envelope
    // columns (only `topic` is required; EmqxWriterFactory defaults
    // the rest) — without it Spark validates against the fixed
    // 5-column schema and rejects partial writes at analysis time.
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // ACCEPT_ANY_SCHEMA skips Spark's schema validation, so check
        // the one genuinely required column here (analysis/planning
        // time, driver) — otherwise a missing `topic` surfaces as a
        // bare NoSuchElementException per-row on executors.
        if (!info.schema().fieldNames.contains("topic"))
          throw new IllegalArgumentException(
            "emqx write requires a 'topic' column (string); got schema: " +
              info.schema().fieldNames.mkString(", "))
        new EmqxWrite(brokerConf, info.schema(),
          options.getBoolean("idempotent", false), info.queryId())
      }
    }
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = EmqxMessage.schema
      override def toMicroBatchStream(loc: String): MicroBatchStream =
        new EmqxMicroBatchStream(
          brokerConf,
          Option(options.get("clientid")).getOrElse("spark-emqx-"),
          Option(options.get("group")).getOrElse("spark"),
          Option(options.get("topicfilter")).getOrElse("#"),
          options.getInt("qos", 1),
          options.getInt("readers", 2),
          options.getLong("maxmessagesperbatch", Long.MaxValue),
          checkpointLoc = loc)
    }
}

/** Offset = per-clientid next-sequence map (the multi-reader analogue
  * of the reference's per-checkpoint pending-ack bookkeeping).
  */
case class EmqxOffset(positions: Map[String, Long]) extends Offset {
  override def json(): String =
    positions.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${EmqxOffset.escape(k)}":$v""" }
      .mkString("{", ",", "}")
}

object EmqxOffset {
  // quoted key (with escapes) : long — tolerant of ':' or ',' inside
  // clientids, which a naive split would corrupt on checkpoint restore
  private val Entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(-?\d+)""".r

  private[sources] def escape(k: String): String =
    k.replace("\\", "\\\\").replace("\"", "\\\"")

  private def unescape(k: String): String =
    k.replace("\\\"", "\"").replace("\\\\", "\\")

  def fromJson(s: String): EmqxOffset =
    EmqxOffset(Entry.findAllMatchIn(s)
      .map(m => unescape(m.group(1)) -> m.group(2).toLong).toMap)
}

class EmqxMicroBatchStream(conf: BrokerConf, baseClientid: String,
    group: String, topicFilter: String, qos: Int, numReaders: Int,
    maxPerBatch: Long = Long.MaxValue, checkpointLoc: String = "")
    extends MicroBatchStream with SupportsAdmissionControl {

  private def broker = BrokerRegistry.resolve(conf)
  private val clientids =
    (0 until numReaders).map(i => s"$baseClientid$i")
  private val sharedFilter = s"$$share/$group/$topicFilter"

  // Cluster-mode fetch: network-broker connections live HERE (the
  // planner's JVM — offset polling needs them), so partition readers
  // in other JVMs fetch their planned range through this RPC proxy,
  // whose address rides inside every InputPartition. See
  // [[graft.sources.broker.FetchProxyServer]] for the design.
  // In-memory brokers are JVM-local test fixtures; no proxy.
  @volatile private var proxyStarted: Option[graft.sources.broker.FetchProxyServer] = None
  private def fetchProxy: Option[graft.sources.broker.FetchProxyServer] =
    if (!conf.isNetwork) None
    else synchronized {
      if (proxyStarted.isEmpty)
        proxyStarted = Some(new graft.sources.broker.FetchProxyServer(
          broker, conf.proxyKeystorePath.map(p =>
            (p, conf.proxyKeystorePassword.getOrElse("")))))
      proxyStarted
    }

  // (Re)connect + subscribe every reader whose connection is absent
  // or dead, called on every offset poll — the automaticReconnect
  // behavior the reference relies on (EMQXSourceReader.java:92
  // automaticReconnectWithDefaultConfig): a query started while the
  // broker is down begins consuming as soon as it comes up, and a
  // broker bounce MID-query re-dials with cleanStart=false on the
  // next poll, so the resumed session keeps its subscription and
  // redelivers the un-acked backlog (at-least-once: wire acks lost
  // in the bounce surface as duplicates, never as loss).
  ensureSubscribed()

  private def ensureSubscribed(): Unit = synchronized {
    clientids.foreach { cid =>
      if (!broker.isConnected(cid)) {
        try {
          val present = broker.connect(cid, cleanStart = false,
            conf.sessionExpirySec, conf.username, conf.password)
          // NOTE: like the reference (EMQXSourceReader.java:113 "session
          // already present; will NOT subscribe explicitly"), a resumed
          // session keeps its original subscription — changing
          // topicfilter/group across restarts of the same clientid
          // requires a new clientid base or an expired session.
          if (!present) broker.subscribe(cid, sharedFilter, qos)
        } catch {
          // broker down / socket refused: swallowed, retried next poll
          case scala.util.control.NonFatal(_) => ()
        }
      }
    }
  }

  override def initialOffset(): Offset = {
    ensureSubscribed()
    EmqxOffset(clientids.map(c => c -> broker.committedOffset(c)).toMap)
  }

  override def latestOffset(): Offset = {
    ensureSubscribed()
    EmqxOffset(clientids.map(c => c -> broker.endOffset(c)).toMap)
  }

  /** Admission control (backpressure): cap each micro-batch at
    * `maxmessagesperbatch` rows, split evenly across readers — the
    * maxOffsetsPerTrigger analogue; an un-capped burst otherwise
    * becomes one giant batch after downtime.
    */
  override def getDefaultReadLimit: ReadLimit =
    if (maxPerBatch == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerBatch)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    ensureSubscribed()
    val s = start.asInstanceOf[EmqxOffset].positions
    val budget = limit match {
      case m: ReadMaxRows => m.maxRows
      case _ => Long.MaxValue
    }
    val ranges = clientids.map { c =>
      val from = s.getOrElse(c, broker.committedOffset(c))
      // after a restart a network client numbers its redelivered
      // backlog from 0 while `from` is the checkpoint's absolute
      // offset: align first, or a backlog smaller than the consumed
      // history reads as no new data and is never planned (no-op
      // once this session has fetched, and for in-memory brokers)
      broker.rebase(c, from)
      (c, from, broker.endOffset(c))
    }
    if (budget == Long.MaxValue)
      EmqxOffset(ranges.map { case (c, _, end) => c -> end }.toMap)
    else {
      // Allocate the GLOBAL row budget across readers in proportion to
      // each reader's remaining backlog (a fixed per-reader quota both
      // overshoots the cap when readers outnumber rows and strands
      // budget on idle readers while a hot one is throttled). Floor
      // division first, then leftover distributed one row at a time to
      // the largest backlogs — deterministic, Σ allocated ≤ budget.
      val backlogs = ranges.map { case (_, from, end) =>
        math.max(end - from, 0L) }
      val total = backlogs.sum
      val alloc =
        if (total <= budget) backlogs
        else {
          val base = backlogs.map(b => budget * b / total)
          var leftover = budget - base.sum
          val order = backlogs.indices
            .sortBy(i => (-(backlogs(i) - base(i)), i))
          val out = base.toArray
          for (i <- order if leftover > 0 && out(i) < backlogs(i)) {
            out(i) += 1; leftover -= 1
          }
          out.toSeq
        }
      EmqxOffset(ranges.zip(alloc).map { case ((c, from, _), a) =>
        c -> (from + a)
      }.toMap)
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    EmqxOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset):
      Array[InputPartition] = {
    val s = start.asInstanceOf[EmqxOffset].positions
    val e = end.asInstanceOf[EmqxOffset].positions
    clientids.map { cid =>
      // A clientid absent from a checkpointed offset map (e.g.
      // `readers` increased across a restart) starts from its
      // committed position, matching latestOffset's default — a 0L
      // default would re-fetch the already-acked history.
      val from = s.getOrElse(cid, broker.committedOffset(cid))
      // align a network client's fresh local sequence with the
      // checkpointed offsets (no-op for the in-memory broker, whose
      // sequences are server-side and survive the restart)
      broker.rebase(cid, from)
      EmqxInputPartition(conf, cid, from, e.getOrElse(cid, from),
        fetchProxy.map(_.address))
        .asInstanceOf[InputPartition]
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EmqxPartitionReaderFactory

  /** The reference acks on notifyCheckpointComplete; here the
    * completed micro-batch's offset is the checkpoint.
    */
  override def commit(end: Offset): Unit =
    end.asInstanceOf[EmqxOffset].positions.foreach {
      case (cid, upTo) => broker.ack(cid, upTo)
    }

  override def stop(): Unit = {
    drainFinalAcks()
    proxyStarted.foreach(_.close()) // only if one was ever started
    clientids.foreach(broker.disconnect)
  }

  /** Graceful stop-with-drain — the stop-with-savepoint parity point
    * (reference: EMQXSourceIntegrationTest.java:173 acks on the final
    * savepoint before cancel). Spark commits source offsets one batch
    * LATE — `commit(batch N)` fires at the start of batch N+1 — so on
    * a graceful stop the final micro-batch's acks would strand
    * un-acked until the next restart's first batch. Before the
    * sockets close, read the query's own commit log (last durably
    * committed batch id) and offset log (that batch's end offsets) —
    * exactly the state Spark itself replays on restart — and ack it.
    * Only committed batches can ack (a batch interrupted mid-run is
    * absent from the commit log), and [[MqttBroker.ack]] additionally
    * clamps to fetched data, so a crash-stop can never over-ack into
    * data loss. Best-effort: any failure leaves the pre-drain
    * at-least-once behavior (acks caught up by the restart).
    */
  private def drainFinalAcks(): Unit = try {
    val i = checkpointLoc.lastIndexOf("/sources/")
    if (i < 0) return
    val root = checkpointLoc.substring(0, i)
    val srcIdx = checkpointLoc.substring(i + "/sources/".length)
      .takeWhile(_.isDigit)
    if (srcIdx.isEmpty) return
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, OffsetSeqLog}
    new CommitLog(spark, s"$root/commits").getLatest().foreach {
      case (batchId, _) =>
        new OffsetSeqLog(spark, s"$root/offsets").get(batchId).foreach {
          seq =>
            val offs = seq.offsets
            val k = srcIdx.toInt
            if (k < offs.length) offs(k).foreach { off =>
              EmqxOffset.fromJson(off.json).positions.foreach {
                case (cid, upTo) => broker.ack(cid, upTo)
              }
            }
        }
    }
  } catch { case scala.util.control.NonFatal(_) => () }
}

/** `proxy`: fetch-RPC address (host:port) of the planner JVM that
  * owns the broker connections — set for network brokers so the read
  * works from any executor JVM; None for in-memory test brokers.
  */
case class EmqxInputPartition(conf: BrokerConf, clientid: String,
    from: Long, until: Long, proxy: Option[String] = None)
    extends InputPartition

class EmqxPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[EmqxInputPartition]
    new PartitionReader[InternalRow] {
      private val msgs = (part.proxy match {
        case Some(addr) => graft.sources.broker.FetchProxyClient
          .fetch(addr, part.clientid, part.from, part.until,
            part.conf.truststorePath, part.conf.truststorePassword)
        case None => BrokerRegistry.resolve(part.conf)
          .fetch(part.clientid, part.from, part.until)
      }).iterator
      private var current: EmqxMessage = _
      override def next(): Boolean =
        if (msgs.hasNext) { current = msgs.next(); true } else false
      override def get(): InternalRow = toRow(current)
      override def close(): Unit = ()
    }
  }

  private def toRow(m: EmqxMessage): InternalRow = {
    val props = if (m.properties == null) null
    else ArrayBasedMapData(
      m.properties.keys.map(UTF8String.fromString).toArray,
      m.properties.values.map(UTF8String.fromString).toArray)
    InternalRow(UTF8String.fromString(m.topic), m.qos, m.retained,
      props, m.payload)
  }
}

/** DSv2 write path: `df.writeStream.format("emqx")` /
  * `df.write.format("emqx")` publish envelope rows (any column other
  * than `topic` may be omitted). Publishes are per-row as a real MQTT
  * client would; epoch commit is a no-op because MQTT publish has no
  * transactional abort — at-least-once, matching the source side.
  *
  * `idempotent=true` upgrades replays to effectively-once: each row
  * is stamped with a `<queryId>/<epoch>/<partition>/<contentHash>/<n>`
  * key in the reserved
  * [[graft.sources.broker.InMemoryBroker.DedupKeyProp]] user property
  * and the broker drops keys it has already routed, so a retried
  * epoch/task publishes no duplicates (SURVEY §9; the reference is
  * plain at-least-once). The key is derived from row CONTENT (MD5
  * over topic/qos/retained/properties/payload, plus an occurrence
  * counter for identical rows) because Spark only guarantees a
  * replayed partition re-encounters the same multiset of rows, not
  * the same order — a position-based key would stamp different rows
  * across a reordered retry and silently drop unpublished messages.
  */
class EmqxWrite(conf: BrokerConf, schema: StructType,
    idempotent: Boolean = false, queryId: String = "")
    extends Write with BatchWrite with StreamingWrite {

  override def useCommitCoordinator(): Boolean = false
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new EmqxWriterFactory(conf, schema, idempotent, queryId)
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new EmqxWriterFactory(conf, schema, idempotent, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private case object EmqxCommit extends WriterCommitMessage

class EmqxWriterFactory(conf: BrokerConf, schema: StructType,
    idempotent: Boolean = false, queryId: String = "")
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    mkWriter(partitionId, epochId = -1L)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = mkWriter(partitionId, epochId)

  private val idx: Map[String, Int] =
    schema.fieldNames.zipWithIndex.toMap

  private def mkWriter(partitionId: Int, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // this writer's own flows: commit() waits on them and no others
      private val out = BrokerRegistry.resolve(conf).publisher()
      // content-hash → count of identical rows seen so far in this
      // (query, epoch, partition). Retries replay the same multiset
      // of rows (possibly reordered), so hash+occurrence is a stable
      // idempotence key where an arrival-order row index is not.
      private val occurrence = scala.collection.mutable.HashMap[String, Int]()
      // one digest instance per writer, reset per row — not per-row
      // allocation on the sink hot path
      private lazy val md = java.security.MessageDigest.getInstance("MD5")
      override def write(row: InternalRow): Unit = {
        def opt[T](name: String, get: Int => T, dflt: T): T =
          idx.get(name).filterNot(row.isNullAt).map(get).getOrElse(dflt)
        val topic = row.getUTF8String(idx("topic")).toString
        val qos = opt("qos", row.getInt, 0)
        val retained = opt("retained", row.getBoolean, false)
        val payload = opt("payload", row.getBinary, Array.empty[Byte])
        var props = opt[Map[String, String]]("properties", i => {
          val m = row.getMap(i)
          val ks = m.keyArray(); val vs = m.valueArray()
          (0 until m.numElements()).map(j =>
            ks.getUTF8String(j).toString -> vs.getUTF8String(j).toString)
            .toMap
        }, Map.empty)
        if (idempotent) {
          md.reset()
          def part(b: Array[Byte]): Unit = { // length-framed: no
            md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
            md.update(b)                     // boundary ambiguity
          }
          part(topic.getBytes("UTF-8"))
          md.update(qos.toByte)
          md.update(if (retained) 1.toByte else 0.toByte)
          props.toSeq.sortBy(_._1).foreach { case (k, v) =>
            part(k.getBytes("UTF-8")); part(v.getBytes("UTF-8"))
          }
          part(payload)
          val h = java.util.HexFormat.of().formatHex(md.digest())
          val n = occurrence.getOrElse(h, 0)
          occurrence.update(h, n + 1)
          props += (graft.sources.broker.InMemoryBroker.DedupKeyProp ->
            s"$queryId/$epochId/$partitionId/$h/$n")
        }
        out.publish(EmqxMessage(topic, qos, retained, props, payload))
      }
      // pipelined QoS1/2 publishes ride the wire up to the broker's
      // Receive Maximum; the acks must all be in before this task may
      // report success (flush throws → task retry, at-least-once)
      override def commit(): WriterCommitMessage = {
        out.flush()
        EmqxCommit
      }
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

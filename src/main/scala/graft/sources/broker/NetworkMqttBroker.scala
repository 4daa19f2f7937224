package graft.sources.broker

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket, SocketException}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, CountDownLatch, TimeUnit, TimeoutException}
import scala.collection.mutable
import graft.model.EmqxMessage
import Mqtt5Codec._

/** Connection settings for a broker, carried from DataSource options
  * into driver and executor code (serializable — it rides inside
  * InputPartitions and writer factories).
  *
  * `uri`: `mem:<name>` / bare name → in-JVM [[InMemoryBroker]];
  * `tcp://host:port` / `ssl://host:port` → [[NetworkMqttBroker]]
  * (ssl trusts the JVM-default truststore, or the explicit
  * PKCS12/JKS file in `truststorePath`/`truststorePassword` — a
  * per-connection CA config, no global javax.net.ssl properties).
  * Credentials mirror the MQTT CONNECT username/password fields
  * (reference surface: Mqtt5Client simpleAuth;
  * EMQXSourceReader.java:92–105).
  */
case class BrokerConf(
    uri: String,
    username: Option[String] = None,
    password: Option[String] = None,
    // "SCRAM-SHA-256" → enhanced auth over AUTH packets: the password
    // never crosses the wire and the broker must prove it holds the
    // ServerKey (mutual authentication). None → legacy CONNECT
    // username/password fields.
    authMethod: Option[String] = None,
    sessionExpirySec: Long = 3600,
    keepAliveSec: Int = 30,
    connectTimeoutMs: Int = 5000,
    truststorePath: Option[String] = None,
    truststorePassword: Option[String] = None,
    // fetch-proxy TLS: the driver's proxy serves with this keystore
    // (options proxykeystorepath/-password) and executor clients
    // trust it via the same truststore fields as the broker TLS —
    // both ride inside the InputPartition-carried conf
    proxyKeystorePath: Option[String] = None,
    proxyKeystorePassword: Option[String] = None) {
  def isNetwork: Boolean =
    uri.startsWith("tcp://") || uri.startsWith("ssl://")
}

/** A real MQTT 5 client implementing the [[MqttBroker]] seam over
  * TCP/TLS — the in-repo replacement for the reference's HiveMQ
  * Mqtt5AsyncClient (EMQXSourceReader.java:92–120), adapted to the
  * pull/offset model Spark's micro-batch planner needs:
  *
  *   - one socket per clientid; a reader thread buffers inbound
  *     PUBLISHes in arrival order, giving each a client-local
  *     monotone sequence (the offset)
  *   - `ack(upTo)` sends the wire acknowledgement for each buffered
  *     message below `upTo` (QoS1 → PUBACK, QoS2 → PUBREC, with the
  *     PUBREL/PUBCOMP completion handled by the reader thread) and
  *     drops it from the buffer — ack-on-checkpoint, at-least-once
  *   - after a restart the local buffer restarts at 0 while the
  *     checkpoint holds absolute offsets; `rebase` renumbers the
  *     redelivered backlog to the checkpointed base (valid because
  *     redelivery = exactly the un-acked suffix)
  *
  * Deployment: consumer connections are pinned to the planner's JVM
  * (the driver) — MQTT offsets are connection-local, so the JVM that
  * answers `latestOffset` must own the sockets. Partition readers in
  * OTHER JVMs fetch their planned range through the
  * [[FetchProxyServer]] RPC started by the micro-batch stream, whose
  * address rides inside every InputPartition; under local[*] the same
  * path is exercised over loopback.
  */
class NetworkMqttBroker(conf: BrokerConf) extends MqttBroker {

  private val (host, port) = {
    val rest = conf.uri.substring(conf.uri.indexOf("://") + 3)
    val i = rest.lastIndexOf(':')
    require(i > 0, s"broker uri needs host:port, got ${conf.uri}")
    (rest.substring(0, i), rest.substring(i + 1).toInt)
  }
  private val tls = conf.uri.startsWith("ssl://")

  private final class Conn(val clientid: String) {
    var socket: Socket = _
    var out: BufferedOutputStream = _
    var in: BufferedInputStream = _
    val writeLock = new Object
    // local delivery buffer: (message, wire packetId, qos)
    val buffer = mutable.ArrayBuffer[(EmqxMessage, Int, Int)]()
    var baseSeq = 0L
    var consumed = false // a fetch happened since (re)connect
    // highest offset handed out by fetch(): acks are capped here —
    // ack-on-checkpoint may only acknowledge data this session
    // actually consumed. Without the cap, Spark's restored
    // commit(lastBatchEnd) on restart (absolute checkpoint numbering)
    // lands on a fresh client still numbering from zero and silently
    // acks away the just-redelivered backlog before rebase() aligns
    // the sequences (observed: first offline message lost).
    var fetchedUpTo = Long.MinValue
    var sessionPresent = false
    // per-flow ack outcome: completed true on the wire ack, false
    // when the connection dies first — so waiters (blocking publish,
    // subscribe, flushPublishes) fail FAST on a bounce instead of
    // timing out, and stranded flows never block a later retry
    val waiters = new ConcurrentHashMap[Int, CompletableFuture[Boolean]]()
    var nextPid = 1
    @volatile var alive = false
    // broker-advertised Receive Maximum (CONNACK 0x21, spec §4.9):
    // outbound QoS1/2 PUBLISH flows acquire a permit before the wire
    // send and release it when the flow completes (PUBACK / PUBCOMP,
    // tracked via quotaHolders) — the client never exceeds the
    // broker's receive quota even with concurrent/pipelined publishes
    @volatile var sendQuota = new java.util.concurrent.Semaphore(65535)
    val quotaHolders = ConcurrentHashMap.newKeySet[Int]()

    def acquireQuota(): Unit =
      if (!sendQuota.tryAcquire(10, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "publish stalled: broker receive quota exhausted for 10s")

    def send(p: Packet): Unit = writeLock.synchronized {
      Mqtt5Codec.write(out, p)
    }

    def sendAll(ps: Iterable[Packet]): Unit = writeLock.synchronized {
      Mqtt5Codec.writeAll(out, ps)
    }

    def allocPid(): Int = writeLock.synchronized {
      // skip ids still awaiting an ack: a wrapped counter landing on
      // an in-flight id would overwrite that waiter and orphan its
      // pending flow (MQTT-2.2.1-3: an id must not be reused while
      // its original flow is incomplete)
      var p = nextPid
      var scanned = 0
      while (waiters.containsKey(p) && scanned < 65535) {
        p = if (p >= 65535) 1 else p + 1; scanned += 1
      }
      nextPid = if (p >= 65535) 1 else p + 1
      p
    }

    /** Sends `p` and waits for the ack of its `pid`. The waiter is in
      * place before the send: an ack that comes back before the
      * caller could register would otherwise find no waiter, be
      * dropped, and the call would time out.
      */
    def request(pid: Int, p: Packet, what: String): Unit = {
      val f = new CompletableFuture[Boolean]()
      waiters.put(pid, f)
      send(p)
      val ok =
        try f.get(10, TimeUnit.SECONDS)
        catch {
          case _: TimeoutException =>
            waiters.remove(pid)
            throw new IllegalStateException(
              s"timeout waiting for $what($pid)")
        }
      if (!ok) throw new IllegalStateException(
        s"connection lost waiting for $what($pid)")
    }

    /** Connection death: fail every in-flight flow and return its
      * receive-quota permit. Without this, a flow stranded by a
      * broker bounce held its waiter (and permit) forever — every
      * later flushPublishes() on the registry-cached broker timed
      * out, so sink task retries could never succeed.
      */
    private def failInFlight(): Unit = {
      val it = waiters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next(); it.remove()
        if (quotaHolders.remove(e.getKey)) sendQuota.release()
        e.getValue.complete(false)
      }
    }

    def readerLoop(): Unit = {
      try {
        while (alive) {
          Mqtt5Codec.read(in) match {
            case Publish(topic, qos, retain, _, pid, props, payload) =>
              NetworkMqttBroker.this.synchronized {
                buffer += ((EmqxMessage(topic, qos, retain, props, payload),
                  pid, qos))
              }
            case PubAck(pid, _) =>
              if (quotaHolders.remove(pid)) sendQuota.release()
              Option(waiters.remove(pid)).foreach(_.complete(true))
            case PubRec(pid, _) => // our qos2 publish: continue flow
              send(PubRel(pid, 0))
            case PubComp(pid, _) =>
              // quota frees at PUBCOMP, not PUBREC (spec §4.9.2)
              if (quotaHolders.remove(pid)) sendQuota.release()
              Option(waiters.remove(pid)).foreach(_.complete(true))
            case PubRel(pid, _) => // completes our qos2 receive ack
              send(PubComp(pid, 0))
            case Suback(pid, _) =>
              Option(waiters.remove(pid)).foreach(_.complete(true))
            case Unsuback(pid, _) =>
              Option(waiters.remove(pid)).foreach(_.complete(true))
            case PingResp => ()
            case Disconnect(_) => alive = false
            case _ => ()
          }
        }
      } catch {
        case _: EOFException => alive = false
        case _: SocketException => alive = false
        case _: Throwable => alive = false
      } finally failInFlight()
    }
  }

  private val conns = new ConcurrentHashMap[String, Conn]()

  /** ssl:// sockets trust either the JVM default truststore or, when
    * `truststorePath` is set, that file (PKCS12/JKS) — the standard
    * per-connection CA config a broker with a private CA needs,
    * without touching global javax.net.ssl system properties.
    */
  private def sslSocketFactory(): javax.net.ssl.SSLSocketFactory =
    conf.truststorePath match {
      case None => javax.net.ssl.SSLSocketFactory.getDefault
        .asInstanceOf[javax.net.ssl.SSLSocketFactory]
      case Some(path) =>
        val ks = java.security.KeyStore.getInstance(
          new java.io.File(path),
          conf.truststorePassword.getOrElse("").toCharArray)
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        ctx.init(null, tmf.getTrustManagers, null)
        ctx.getSocketFactory
    }

  /** Live connection for `clientid`, re-dialing a dead socket with
    * cleanStart=false — the automaticReconnect analogue (reference:
    * EMQXSourceReader.java:92): the resumed session keeps its
    * subscriptions and redelivers the un-acked backlog, and
    * [[connect]] carries the local offset alignment across the
    * bounce. A clientid this broker never connected is still an
    * error (nothing to resume).
    */
  private def connOf(clientid: String): Conn = {
    val c = conns.get(clientid)
    if (c == null)
      throw new IllegalStateException(s"not connected: $clientid")
    if (c.alive) c
    else {
      connect(clientid, cleanStart = false, conf.sessionExpirySec,
        conf.username, conf.password)
      conns.get(clientid)
    }
  }

  override def isConnected(clientid: String): Boolean = {
    val c = conns.get(clientid)
    c != null && c.alive
  }

  override def connect(clientid: String, cleanStart: Boolean,
      sessionExpirySec: Long, username: Option[String],
      password: Option[String]): Boolean = synchronized {
    val existing = conns.get(clientid)
    if (existing != null && existing.alive) return existing.sessionPresent
    val c = new Conn(clientid)
    if (existing != null) {
      // reconnect after a socket death: with cleanStart=false the
      // broker redelivers exactly the un-acked suffix, which the old
      // local numbering already placed at [baseSeq, …) — carrying
      // baseSeq keeps offsets absolute across the bounce with no
      // rebase() needed. Carrying fetchedUpTo lets a checkpoint
      // commit for rows fetched on the dead connection ack through
      // once the redelivered copies land. Wire acks the old socket
      // lost surface as duplicate deliveries (at-least-once), never
      // as loss.
      c.baseSeq = existing.baseSeq
      c.fetchedUpTo = existing.fetchedUpTo
      c.consumed = existing.consumed
      try existing.socket.close() catch { case _: Throwable => () }
    }
    val sock =
      if (tls) sslSocketFactory().createSocket()
      else new Socket()
    sock.connect(new InetSocketAddress(host, port), conf.connectTimeoutMs)
    sock.setTcpNoDelay(true)
    c.socket = sock
    c.out = new BufferedOutputStream(sock.getOutputStream)
    c.in = new BufferedInputStream(sock.getInputStream)
    val user = username.orElse(conf.username)
    val pass = password.orElse(conf.password)
    // Enhanced auth (SCRAM-SHA-256): CONNECT carries the client-first
    // message INSTEAD of the password field; the exchange continues
    // over AUTH packets before the CONNACK arrives.
    val scram = conf.authMethod match {
      case Some("SCRAM-SHA-256") =>
        val u = user.getOrElse(throw new IllegalArgumentException(
          "authmethod SCRAM-SHA-256 requires a username"))
        val p = pass.getOrElse(throw new IllegalArgumentException(
          "authmethod SCRAM-SHA-256 requires a password"))
        Some(new ScramSha256.Client(u, p))
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported authmethod $other (supported: SCRAM-SHA-256)")
      case None => None
    }
    c.send(Connect(clientid, cleanStart,
      conf.keepAliveSec, sessionExpirySec, user,
      if (scram.isDefined) None else pass.map(_.getBytes("UTF-8")),
      authMethod = scram.map(_ => "SCRAM-SHA-256"),
      authData = scram.map(_.clientFirst.getBytes("UTF-8"))))
    scram.foreach { cl =>
      Mqtt5Codec.read(c.in) match {
        case Auth(0x18, _, data) =>
          c.send(Auth(0x18, "SCRAM-SHA-256",
            cl.clientFinal(new String(data, "UTF-8")).getBytes("UTF-8")))
        case Connack(_, rc, _, _) =>
          sock.close()
          throw new IllegalStateException(
            if (rc == 0x87 || rc == 0x86) s"not authorized: $clientid"
            else s"connect refused rc=0x${rc.toHexString}")
        case other =>
          sock.close()
          throw new IllegalStateException(s"expected AUTH, got $other")
      }
    }
    Mqtt5Codec.read(c.in) match {
      case Connack(present, 0, receiveMax, connackAuthData) =>
        // mutual authentication: the CONNACK must carry a server-final
        // signature only the genuine ServerKey holder can produce
        scram.foreach { cl =>
          val ok = connackAuthData.exists(d =>
            cl.verifyServerFinal(new String(d, "UTF-8")))
          if (!ok) {
            sock.close()
            throw new IllegalStateException(
              "broker failed SCRAM server verification: refusing to " +
                "trust an unauthenticated broker")
          }
        }
        c.sessionPresent = present
        c.sendQuota = new java.util.concurrent.Semaphore(receiveMax)
        c.alive = true
        // a resumed session's redelivered backlog re-enters the local
        // buffer from scratch; rebase() aligns it to the checkpoint
        val t = new Thread(() => c.readerLoop(), s"mqtt5-client-$clientid")
        t.setDaemon(true)
        t.start()
        conns.put(clientid, c)
        present
      case Connack(_, rc, _, _) =>
        sock.close()
        throw new IllegalStateException(
          if (rc == 0x87 || rc == 0x86) s"not authorized: $clientid"
          else s"connect refused rc=0x${rc.toHexString}")
      case other =>
        sock.close()
        throw new IllegalStateException(s"expected CONNACK, got $other")
    }
  }

  override def disconnect(clientid: String): Unit = synchronized {
    val c = conns.remove(clientid)
    if (c != null && c.alive) {
      try c.send(Disconnect(0)) catch { case _: Throwable => () }
      c.alive = false
      try c.socket.close() catch { case _: Throwable => () }
    }
  }

  override def subscribe(clientid: String, filter: String, qos: Int): Unit = {
    val c = connOf(clientid)
    val pid = c.allocPid()
    c.request(pid, Subscribe(pid, Seq(filter -> qos)), "SUBACK")
  }

  override def unsubscribe(clientid: String, filter: String): Unit = {
    val c = connOf(clientid)
    val pid = c.allocPid()
    c.request(pid, Unsubscribe(pid, Seq(filter)), "UNSUBACK")
  }

  /** Publish via a dedicated anonymous connection (the sink path —
    * a real producer client). QoS1/2 block until the wire flow
    * completes, so at-least-once holds for the producer too. Each
    * QoS1/2 flow holds a broker receive-quota permit (CONNACK Receive
    * Maximum) from send to ack, so even many concurrent publisher
    * threads never exceed the broker's quota.
    */
  override def publish(msg: EmqxMessage): Unit = {
    val c = publisherConn()
    val qos = msg.qos & 3
    if (qos > 0) {
      c.acquireQuota()
      val pid = c.allocPid()
      val f = new CompletableFuture[Boolean]()
      c.waiters.put(pid, f)
      c.quotaHolders.add(pid)
      c.send(Publish(msg.topic, qos, msg.retained, dup = false, pid,
        msg.properties, msg.payload))
      val ok =
        try f.get(10, TimeUnit.SECONDS)
        catch {
          case _: TimeoutException =>
            c.waiters.remove(pid)
            if (c.quotaHolders.remove(pid)) c.sendQuota.release()
            throw new IllegalStateException(s"publish ack timeout pid=$pid")
        }
      if (!ok) throw new IllegalStateException(
        s"connection lost before publish ack pid=$pid")
    } else {
      c.send(Publish(msg.topic, qos, msg.retained, dup = false, 0,
        msg.properties, msg.payload))
    }
  }

  /** Pipelined publishes of one writer: QoS1/2 sends acquire a
    * receive-quota permit and return without waiting for the ack — up
    * to the broker's Receive Maximum flows ride the wire concurrently
    * (ack pipelining), amortizing the round-trip the blocking
    * [[publish]] pays per message. [[flush]] waits on this writer's
    * own flows only: sink tasks sharing the registry-cached broker
    * never wait on, clear or inherit each other's failures.
    */
  private final class PipelinedPublisher extends Publisher {
    // ack futures awaiting the next flush(). Held here, not on the
    // Conn, so flows stranded by a publisher reconnect still fail
    // this writer's flush loudly instead of vanishing with the Conn.
    private val pending =
      ConcurrentHashMap.newKeySet[CompletableFuture[Boolean]]()

    override def publish(msg: EmqxMessage): Unit = {
      val c = publisherConn()
      val qos = msg.qos & 3
      if (qos > 0) {
        c.acquireQuota()
        val pid = c.allocPid()
        val f = new CompletableFuture[Boolean]()
        c.waiters.put(pid, f)
        c.quotaHolders.add(pid)
        pending.add(f)
        c.send(Publish(msg.topic, qos, msg.retained, dup = false, pid,
          msg.properties, msg.payload))
      } else {
        c.send(Publish(msg.topic, qos, msg.retained, dup = false, 0,
          msg.properties, msg.payload))
      }
    }

    /** Waits until every flow this publisher sent has completed its
      * wire ack. Throws if any fails to complete within the deadline
      * (dead socket, broker gone) — the caller's task fails and
      * retries, preserving at-least-once.
      */
    override def flush(): Unit = {
      // Drain EVERY entry before throwing: a stranded flow (timeout or
      // connection death) must not stay behind to poison the retry's
      // flush — the failed flow's rows are re-published by the retry,
      // so clearing its future loses nothing (at-least-once).
      var failure: Throwable = null
      val it = pending.iterator()
      while (it.hasNext) {
        val f = it.next()
        try {
          if (!f.get(10, TimeUnit.SECONDS) && failure == null)
            failure = new IllegalStateException(
              "pipelined publish lost its connection before the ack — " +
                "failing so the task retries (at-least-once)")
        } catch {
          case _: TimeoutException =>
            if (failure == null) failure = new IllegalStateException(
              "pipelined publish not acked within 10s — failing so the " +
                "task retries (at-least-once)")
        }
        it.remove()
      }
      if (failure != null) throw failure
    }
  }

  override def publisher(): Publisher = new PipelinedPublisher

  // one publisher for a caller that owns this broker handle outright
  // (a producer thread); concurrent writers each take a publisher()
  private val sharedPublisher = new PipelinedPublisher

  /** Pipelined publish: may return before the QoS1/2 wire ack; the
    * caller MUST call [[flushPublishes]] before treating the messages
    * as durably handed off.
    */
  def publishAsync(msg: EmqxMessage): Unit = sharedPublisher.publish(msg)

  /** Barrier for [[publishAsync]]: returns once every flow sent
    * through it has completed, throwing if any cannot.
    */
  def flushPublishes(): Unit = sharedPublisher.flush()

  private val pubClientid =
    "graft-pub-" + java.util.UUID.randomUUID().toString.take(8)

  private def publisherConn(): Conn = {
    val existing = conns.get(pubClientid)
    if (existing != null && existing.alive) existing
    else {
      connect(pubClientid, cleanStart = true, conf.sessionExpirySec,
        conf.username, conf.password)
      conns.get(pubClientid)
    }
  }

  override def endOffset(clientid: String): Long = synchronized {
    val c = conns.get(clientid)
    if (c == null) 0L else c.baseSeq + c.buffer.length
  }

  override def committedOffset(clientid: String): Long = synchronized {
    val c = conns.get(clientid)
    if (c == null) 0L else c.baseSeq
  }

  /** Fetch [from, until). If the planned range outruns the local
    * buffer — after a mid-query reconnect the un-acked backlog
    * redelivers asynchronously — this waits (lock released between
    * polls so the reader thread can append) while redelivery makes
    * PROGRESS, up to 5 s without progress. If rows are still missing:
    *   - dead connection → THROW, failing the task: Spark retries the
    *     same range, preserving at-least-once for QoS ≥ 1 (the engine
    *     never re-plans a range, so a silent short slice would be
    *     permanent loss — ack() clamps to fetchedUpTo, so the unserved
    *     suffix would never even ack).
    *   - alive with redelivery drained → return the short slice: the
    *     missing rows were QoS 0 deliveries the broker will never
    *     re-send (at-most-once by contract; they were counted in a
    *     previous endOffset but died with the old socket).
    */
  override def fetch(clientid: String, from: Long, until: Long): Seq[EmqxMessage] = {
    if (conns.get(clientid) != null && !isConnected(clientid))
      try connOf(clientid) catch { case _: Throwable => () } // broker still down
    var lastLen = -1L
    var progressDeadline = System.nanoTime() + 5000L * 1000 * 1000
    while (true) {
      val done = synchronized {
        val c = conns.get(clientid)
        if (c == null) return Seq.empty
        val len = c.buffer.length.toLong
        if (len != lastLen) { // redelivery is landing: extend
          lastLen = len
          progressDeadline = System.nanoTime() + 5000L * 1000 * 1000
        }
        val hi = math.min(until, c.baseSeq + len)
        val stalled = System.nanoTime() > progressDeadline
        if (hi >= until || (stalled && c.alive)) {
          c.consumed = true
          val lo = math.max(from, c.baseSeq)
          if (hi > c.fetchedUpTo) c.fetchedUpTo = hi
          return (lo until hi).map(i => c.buffer((i - c.baseSeq).toInt)._1)
        }
        if (!c.alive || stalled)
          throw new IllegalStateException(
            s"fetch $clientid [$from,$until): connection lost with " +
              s"rows [$hi,$until) unredelivered — failing the task so " +
              "the engine retries the range (at-least-once)")
        false
      }
      if (!done) Thread.sleep(10)
    }
    Nil // unreachable
  }

  override def ack(clientid: String, upTo: Long): Unit = {
    val (conn, toAck) = synchronized {
      val c = conns.get(clientid)
      if (c == null) return
      val eff = math.min(upTo, c.fetchedUpTo) // only fetched data
      // compare before subtracting: nothing fetched yet leaves
      // fetchedUpTo at Long.MinValue, and MinValue - baseSeq wraps to
      // a huge positive count once rebase has moved baseSeq above 0
      if (eff <= c.baseSeq) return
      val n = math.min(eff - c.baseSeq, c.buffer.length).toInt
      if (n == 0) return
      val slice = c.buffer.take(n).toSeq
      c.buffer.remove(0, n)
      c.baseSeq += n
      (c, slice)
    }
    // one lock hold and one socket flush for the whole run: acks run
    // on the stream thread inside the batch commit
    val acks = toAck.collect {
      case (_, pid, 1) => PubAck(pid, 0)
      case (_, pid, 2) => PubRec(pid, 0) // PUBREL/PUBCOMP async
    }
    if (acks.nonEmpty) conn.sendAll(acks)
  }

  override def rebase(clientid: String, seq: Long): Unit = synchronized {
    val c = conns.get(clientid)
    // only before the first fetch/ack of this session: the buffer then
    // holds exactly the redelivered (un-acked) suffix, whose first
    // element is the checkpointed replay point
    if (c != null && !c.consumed && seq > c.baseSeq) c.baseSeq = seq
  }

  def closeAll(): Unit = {
    conns.keySet().forEach(disconnect(_))
  }
}

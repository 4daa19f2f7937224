package graft.sources.broker

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}
import scala.collection.mutable
import graft.model.EmqxMessage
import Mqtt5Codec._

/** A TCP MQTT 5 broker server fronting an [[InMemoryBroker]] — real
  * MQTT 5 packets over real sockets, so the network client
  * ([[NetworkMqttBroker]]) and the `emqx` source/sink can be
  * integration-tested end-to-end without any external broker or
  * client library. Routing/session/shared-subscription semantics live
  * entirely in the backing InMemoryBroker; this layer speaks the wire
  * protocol: CONNECT auth → CONNACK reason codes, per-connection
  * delivery with QoS 1 (PUBACK) and QoS 2 (PUBREC/PUBREL/PUBCOMP)
  * manual-ack flows mapped onto the broker's offset ack model.
  */
class Mqtt5Server(backing: InMemoryBroker, port: Int = 0,
    sslKeystore: Option[(String, String)] = None,
    receiveMaximum: Int = 65535) {

  require(receiveMaximum >= 1 && receiveMaximum <= 65535,
    s"receiveMaximum must be in [1,65535], got $receiveMaximum")

  /** Delay (ms) before an inbound QoS 1 PUBLISH is routed + PUBACKed —
    * a TEST knob that widens the server-side ack window so client-side
    * Receive-Maximum pipelining becomes observable (with instant acks a
    * serial reader never sees more than one un-acked inbound flow).
    * Delayed acks run on a shared scheduler, so the connection thread
    * keeps reading and genuinely concurrent in-flight flows accumulate.
    */
  @volatile var inboundAckDelayMs: Int = 0

  // high-water mark of concurrent un-acked inbound QoS1/2 PUBLISH
  // flows across all connections — what a quota-honoring client must
  // keep ≤ the advertised receiveMaximum
  private val maxInbound = new java.util.concurrent.atomic.AtomicInteger(0)
  def maxInboundInflight: Int = maxInbound.get
  def resetInboundStats(): Unit = maxInbound.set(0)
  private def observeInbound(n: Int): Unit = {
    var cur = maxInbound.get
    while (n > cur && !maxInbound.compareAndSet(cur, n)) cur = maxInbound.get
  }

  private lazy val ackScheduler =
    java.util.concurrent.Executors.newScheduledThreadPool(2, r => {
      val t = new Thread(r, "mqtt5-delayed-ack"); t.setDaemon(true); t
    })

  // SCRAM verifiers derived lazily from the backing credential store
  // (a real broker stores only these, never the password); cached per
  // user with the secret they were derived from so a test that
  // rotates credentials gets a fresh verifier
  private val scramVerifiers = new java.util.concurrent.ConcurrentHashMap[
    String, (String, ScramSha256.Verifier)]()
  private def scramVerifierFor(u: String): Option[ScramSha256.Verifier] =
    backing.credentialFor(u).map { pw =>
      val cached = scramVerifiers.get(u)
      if (cached != null && cached._1 == pw) cached._2
      else {
        val salt = new Array[Byte](16)
        new java.security.SecureRandom().nextBytes(salt)
        val v = ScramSha256.verifier(pw, salt)
        scramVerifiers.put(u, (pw, v))
        v
      }
    }

  /** One SCRAM-SHA-256 exchange on a fresh connection: client-first
    * arrived in the CONNECT's auth data; challenge with AUTH 0x18,
    * await the client-final AUTH, verify the proof. Returns the
    * authenticated principal and the server-final message (for the
    * CONNACK auth data) — None on any failure, which the caller
    * answers with CONNACK 0x87.
    */
  private def runScram(clientFirst: Option[Array[Byte]],
      send: Packet => Unit,
      in: java.io.InputStream): Option[(String, String)] = try {
    val server = new ScramSha256.Server(scramVerifierFor)
    val first = new String(clientFirst.getOrElse(return None), "UTF-8")
    send(Auth(0x18, "SCRAM-SHA-256",
      server.serverFirst(first).getBytes("UTF-8")))
    Mqtt5Codec.read(in) match {
      case Auth(0x18, "SCRAM-SHA-256", data) =>
        server.verifyClientFinal(new String(data, "UTF-8"))
          .map(sf => (server.username, sf))
      case _ => None
    }
  } catch { case _: Throwable => None }

  // bind with SO_REUSEADDR so a bounced broker can come back on the
  // same port while old accepted sockets linger in TIME_WAIT. Linux
  // only honors the reuse if the lingering TIME_WAIT sockets ALSO had
  // SO_REUSEADDR (accepted sockets don't inherit it through Java — set
  // in the accept loop), so an explicit-port bind additionally retries
  // briefly to ride out a pre-fix lingerer or an ephemeral-port race.
  private def bindReusable(ss: ServerSocket): ServerSocket = {
    ss.setReuseAddress(true)
    val addr = new java.net.InetSocketAddress(port)
    var attempt = 0
    var bound = false
    while (!bound) {
      try { ss.bind(addr); bound = true }
      catch {
        case e: java.net.BindException if port != 0 && attempt < 20 =>
          attempt += 1; Thread.sleep(250)
        case e: Throwable => throw e
      }
    }
    ss
  }

  private val server: ServerSocket = sslKeystore match {
    case None => bindReusable(new ServerSocket())
    case Some((path, password)) =>
      // TLS listener from an explicit PKCS12/JKS keystore (the
      // broker's server certificate) — no global system properties
      val ks = java.security.KeyStore.getInstance(
        new java.io.File(path), password.toCharArray)
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, password.toCharArray)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(kmf.getKeyManagers, null, null)
      bindReusable(ctx.getServerSocketFactory.createServerSocket())
  }
  @volatile private var closed = false
  private val conns = mutable.ArrayBuffer[Socket]()

  /** QoS 2 inbound exactly-once state, keyed by CLIENTID rather than
    * by connection: a publisher that bounces between PUBLISH and
    * PUBREL resumes the flow on its next connection (re-sent PUBLISH
    * dup is recognized, a bare PUBREL still finds the held message),
    * so exactly-once receive survives reconnects. cleanStart=true
    * discards it with the rest of the session state.
    */
  private val qos2Pending = new java.util.concurrent.ConcurrentHashMap[
    String, mutable.LinkedHashMap[Int, EmqxMessage]]()

  def actualPort: Int = server.getLocalPort

  private val acceptThread = new Thread(() => {
    while (!closed) {
      try {
        val s = server.accept()
        s.setTcpNoDelay(true)
        // let a bounced broker rebind while this socket sits in
        // TIME_WAIT after close() (see bindReusable)
        try s.setReuseAddress(true) catch { case _: Throwable => () }
        synchronized { conns += s }
        new Thread(() => handle(s), s"mqtt5-conn-${s.getPort}").start()
      } catch {
        case _: SocketException => () // closed
        case _: Throwable if closed => ()
      }
    }
  }, "mqtt5-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def close(): Unit = {
    closed = true
    server.close()
    synchronized { conns.foreach(s => try s.close() catch { case _: Throwable => () }) }
  }

  private def handle(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    val writeLock = new Object
    def send(p: Packet): Unit = writeLock.synchronized { Mqtt5Codec.write(out, p) }

    var clientid: String = null
    val open = new java.util.concurrent.atomic.AtomicBoolean(true)

    // delivery bookkeeping: seq → pid for in-flight qos>0 deliveries;
    // acked seqs accumulate until the contiguous watermark advances,
    // then the backing broker acks (= messages drop from the session)
    val inflight = mutable.LinkedHashMap[Int, Long]() // pid → seq
    val acked = mutable.TreeSet[Long]()
    var nextPid = 1
    var deliverFrom = 0L
    var watermark = 0L
    val deliveryLock = new Object

    def advanceWatermark(): Unit = deliveryLock.synchronized {
      // start from the session's actual base: seqs below it were
      // acked by a previous connection and will never be acked here
      var w = math.max(watermark, backing.committedOffset(clientid))
      acked.rangeUntil(w).toList.foreach(acked.remove) // below-base: stale
      while (acked.contains(w)) { acked.remove(w); w += 1 }
      if (w != watermark) { watermark = w; backing.ack(clientid, w) }
    }

    def deliveryLoop(): Unit = {
      try {
        while (open.get && !closed) {
          val end = backing.endOffset(clientid)
          // clamp to the session's replay point: a reconnect race can
          // leave a previous connection's late acks having advanced
          // the session base past deliverFrom — fetch would clamp the
          // same way, and labeling from the unclamped deliverFrom
          // would misnumber every in-flight ack after it
          val lo = math.max(deliverFrom, backing.committedOffset(clientid))
          if (lo < end) {
            val msgs = backing.fetch(clientid, lo, end)
            msgs.zipWithIndex.foreach { case (m, i) =>
              val seq = lo + i
              val qos = m.qos
              // bound in-flight qos>0 deliveries (Receive-Maximum
              // spirit): with all 65535 ids in flight a wrap would
              // overwrite an inflight entry — its seq then never
              // acks and the contiguous watermark stalls forever
              if (qos > 0)
                while (open.get && !closed &&
                  deliveryLock.synchronized(inflight.size >= 65535))
                  Thread.sleep(1)
              val pid = deliveryLock.synchronized {
                if (qos > 0) {
                  var p = nextPid
                  // never reuse an id whose delivery is still unacked
                  while (inflight.contains(p))
                    p = if (p >= 65535) 1 else p + 1
                  nextPid = if (p >= 65535) 1 else p + 1
                  inflight.put(p, seq); p
                } else {
                  acked.add(seq) // qos0: no wire ack will come
                  0
                }
              }
              send(Publish(m.topic, qos, m.retained, dup = false, pid,
                m.properties, m.payload))
            }
            deliverFrom = end
            advanceWatermark()
          } else backing.awaitActivity(50) // parked until a publish
        }
      } catch { case _: Throwable => () }
    }

    // qos2 inbound publishes held until PUBREL (exactly-once receive);
    // resolved per-clientid from the server-level store after CONNECT
    var pendingQos2: mutable.LinkedHashMap[Int, EmqxMessage] = null

    // receive-quota enforcement (spec §4.9 flow control): un-acked
    // inbound QoS1/2 flows on THIS connection. QoS1 frees at PUBACK,
    // QoS2 at PUBCOMP; exceeding the advertised Receive Maximum is a
    // protocol error → DISCONNECT 0x93 (Receive Maximum exceeded).
    val connInflight = new java.util.concurrent.atomic.AtomicInteger(0)
    val countedQos2 = mutable.Set[Int]() // qos2 pids counted on this conn
    def noteInbound(): Boolean = {
      val n = connInflight.incrementAndGet()
      observeInbound(n)
      if (n > receiveMaximum) {
        try send(Disconnect(0x93)) catch { case _: Throwable => () }
        open.set(false)
        try sock.close() catch { case _: Throwable => () }
        false
      } else true
    }

    try {
      Mqtt5Codec.read(in) match {
        case Connect(cid, clean, _, expiry, user, pass, authMethod, authData) =>
          clientid = cid
          pendingQos2 = qos2Pending.computeIfAbsent(cid,
            _ => mutable.LinkedHashMap[Int, EmqxMessage]())
          if (clean) pendingQos2.synchronized(pendingQos2.clear())
          // enhanced auth (spec §4.12): SCRAM-SHA-256 over AUTH
          // packets. The password never rides the wire; on success
          // the CONNACK's auth data carries the server-final
          // signature so the client authenticates the broker too.
          var connackAuthData: Option[Array[Byte]] = None
          val auth: (Option[String], Option[String]) = authMethod match {
            case None => (user, pass.map(b => new String(b, "UTF-8")))
            case Some("SCRAM-SHA-256") =>
              runScram(authData, send, in) match {
                case Some((principal, serverFinal)) =>
                  connackAuthData =
                    Some(serverFinal.getBytes("UTF-8"))
                  // hand the session layer the authenticated
                  // principal with its stored secret so the legacy
                  // equality check passes and lastAuth records it
                  (Some(principal), backing.credentialFor(principal))
                case None =>
                  send(Connack(sessionPresent = false, 0x87)) // not authorized
                  sock.close()
                  return
              }
            case Some(_) =>
              send(Connack(sessionPresent = false, 0x8c)) // bad auth method
              sock.close()
              return
          }
          val present =
            try backing.connect(cid, clean,
              if (expiry > 0) expiry else 3600, auth._1, auth._2)
            catch {
              case e: IllegalStateException =>
                // 0x87 Not authorized / 0x88 Server unavailable
                val rc = if (e.getMessage != null &&
                  e.getMessage.startsWith("not authorized")) 0x87 else 0x88
                send(Connack(sessionPresent = false, rc))
                sock.close()
                return
            }
          send(Connack(present, 0, receiveMaximum, connackAuthData))
          deliverFrom = backing.committedOffset(cid)
          watermark = deliverFrom
          val dt = new Thread(() => deliveryLoop(), s"mqtt5-deliver-$cid")
          dt.setDaemon(true)
          dt.start()
        case other =>
          throw new IllegalStateException(s"expected CONNECT, got $other")
      }

      while (open.get && !closed) {
        Mqtt5Codec.read(in) match {
          case Subscribe(pid, subs) =>
            val codes = subs.map { case (filter, qos) =>
              backing.subscribe(clientid, filter, qos); qos
            }
            send(Suback(pid, codes))
          case Unsubscribe(pid, filters) =>
            filters.foreach(backing.unsubscribe(clientid, _))
            send(Unsuback(pid, filters.map(_ => 0)))
          case Publish(topic, qos, retain, _, pid, props, payload) =>
            val msg = EmqxMessage(topic, qos, retain, props, payload)
            if (qos == 2) {
              // hold until PUBREL so a re-sent PUBLISH (dup) with the
              // same pid is not routed twice; a dup of a flow already
              // counted must not consume quota a second time
              val fresh = pendingQos2.synchronized {
                if (pendingQos2.contains(pid)) false
                else { pendingQos2.put(pid, msg); true }
              }
              if (!fresh || noteInbound()) {
                if (fresh) countedQos2.synchronized(countedQos2 += pid)
                send(PubRec(pid, 0))
              } else {
                // over-quota: the flow was REJECTED (DISCONNECT 0x93)
                // — take it back out of the session state, or the
                // protocol-error message would survive the disconnect
                // and still be routed after reconnect + PUBREL
                pendingQos2.synchronized(pendingQos2.remove(pid))
              }
            } else if (qos == 1) {
              if (noteInbound()) {
                val complete: Runnable = () => {
                  val routed =
                    try { backing.publish(msg); true }
                    catch { case _: Throwable => false }
                  // free the quota slot BEFORE the PUBACK leaves: a
                  // client may open its next flow the moment the ack
                  // lands, and counting that flow against a slot not
                  // yet freed disconnects a compliant client (0x93)
                  connInflight.decrementAndGet()
                  if (routed) try send(PubAck(pid, 0)) catch { case _: Throwable => () }
                }
                val delay = inboundAckDelayMs
                if (delay > 0)
                  ackScheduler.schedule(complete, delay.toLong,
                    java.util.concurrent.TimeUnit.MILLISECONDS)
                else complete.run()
              }
            } else backing.publish(msg) // qos0: no flow, no quota
          case PubRel(pid, _) =>
            pendingQos2.synchronized(pendingQos2.remove(pid))
              .foreach(backing.publish)
            // quota frees with the PUBCOMP (spec §4.9), and before it
            // is sent, as for PUBACK above — only for flows counted on
            // this connection, not flows resumed from a previous
            // connection of the same clientid
            if (countedQos2.synchronized(countedQos2.remove(pid)))
              connInflight.decrementAndGet()
            send(PubComp(pid, 0))
          case PubAck(pid, _) => // qos1 delivery acked
            deliveryLock.synchronized {
              inflight.remove(pid).foreach(acked.add)
            }
            advanceWatermark()
          case PubRec(pid, _) => // qos2 delivery: treat as the ack point
            deliveryLock.synchronized {
              inflight.remove(pid).foreach(acked.add)
            }
            advanceWatermark()
            send(PubRel(pid, 0))
          case PubComp(_, _) => () // qos2 delivery flow complete
          case PingReq => send(PingResp)
          case Disconnect(_) =>
            open.set(false)
          case _ => () // Connack/Suback/etc. from a client: ignore
        }
      }
    } catch {
      case _: EOFException => ()
      case _: SocketException => ()
      case _: Throwable => ()
    } finally {
      open.set(false)
      if (clientid != null)
        try backing.disconnect(clientid) catch { case _: Throwable => () }
      try sock.close() catch { case _: Throwable => () }
    }
  }
}

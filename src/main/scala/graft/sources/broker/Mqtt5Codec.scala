package graft.sources.broker

import java.io.{DataInputStream, DataOutputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal MQTT 5.0 wire codec (OASIS MQTT v5.0 spec, public) — the
  * packet subset the connector's semantics need: CONNECT/CONNACK,
  * SUBSCRIBE/SUBACK, UNSUBSCRIBE/UNSUBACK, PUBLISH + the QoS 1/2 ack
  * flows (PUBACK, PUBREC/PUBREL/PUBCOMP), PINGREQ/PINGRESP,
  * DISCONNECT. Properties: Session Expiry Interval (0x11) and User
  * Properties (0x26) are surfaced; every other property is skipped by
  * its spec-defined type so packets from arbitrary MQTT 5 peers still
  * parse. No external MQTT library — java.io over a Socket stream.
  *
  * This replaces the reference's HiveMQ client dependency
  * (EMQXSourceReader.java:92 Mqtt5Client.builder()...) with an
  * in-repo wire implementation.
  */
object Mqtt5Codec {

  sealed trait Packet
  /** `authMethod`/`authData` (properties 0x15/0x16, spec §3.1.2.11):
    * enhanced authentication — the CONNECT carries the first client
    * message of the negotiated SASL-style exchange (e.g.
    * SCRAM-SHA-256 client-first), continued via [[Auth]] packets.
    */
  final case class Connect(clientId: String, cleanStart: Boolean,
      keepAliveSec: Int, sessionExpirySec: Long,
      username: Option[String], password: Option[Array[Byte]],
      authMethod: Option[String] = None,
      authData: Option[Array[Byte]] = None) extends Packet
  /** `receiveMaximum` (property 0x21, spec §3.2.2.3.3): the broker's
    * receive quota — the client must not exceed this many concurrent
    * un-acknowledged QoS 1/2 PUBLISH flows toward the broker. 65535
    * (the protocol default) means "unlimited" and is not encoded.
    * `authData` (property 0x16): the final server message of an
    * enhanced-auth exchange (SCRAM server-final "v=..." signature).
    */
  final case class Connack(sessionPresent: Boolean, reasonCode: Int,
      receiveMaximum: Int = 65535,
      authData: Option[Array[Byte]] = None) extends Packet {
    override def equals(o: Any): Boolean = o match {
      case Connack(p, rc, rm, ad) =>
        p == sessionPresent && rc == reasonCode && rm == receiveMaximum &&
          ((ad, authData) match {
            case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
            case (None, None) => true
            case _ => false
          })
      case _ => false
    }
    // array-aware equals needs a consistent hashCode (hash-based
    // collections would otherwise split equal instances)
    override def hashCode: Int =
      java.util.Objects.hash(
        Boolean.box(sessionPresent), Int.box(reasonCode),
        Int.box(receiveMaximum),
        Int.box(authData.fold(0)(java.util.Arrays.hashCode)))
  }
  final case class Publish(topic: String, qos: Int, retain: Boolean,
      dup: Boolean, packetId: Int, props: Map[String, String],
      payload: Array[Byte]) extends Packet
  final case class PubAck(packetId: Int, reasonCode: Int) extends Packet
  final case class PubRec(packetId: Int, reasonCode: Int) extends Packet
  final case class PubRel(packetId: Int, reasonCode: Int) extends Packet
  final case class PubComp(packetId: Int, reasonCode: Int) extends Packet
  final case class Subscribe(packetId: Int, subs: Seq[(String, Int)]) extends Packet
  final case class Suback(packetId: Int, codes: Seq[Int]) extends Packet
  final case class Unsubscribe(packetId: Int, filters: Seq[String]) extends Packet
  final case class Unsuback(packetId: Int, codes: Seq[Int]) extends Packet
  case object PingReq extends Packet
  case object PingResp extends Packet
  final case class Disconnect(reasonCode: Int) extends Packet
  /** AUTH (type 15, spec §3.15): enhanced-authentication exchange.
    * Reason codes: 0x00 Success, 0x18 Continue authentication,
    * 0x19 Re-authenticate. Carries the auth method (0x15, must match
    * the CONNECT's) and opaque auth data (0x16).
    */
  final case class Auth(reasonCode: Int, method: String,
      data: Array[Byte]) extends Packet {
    override def equals(o: Any): Boolean = o match {
      case Auth(rc, m, d) =>
        rc == reasonCode && m == method &&
          java.util.Arrays.equals(d, data)
      case _ => false
    }
    override def hashCode: Int =
      java.util.Objects.hash(Int.box(reasonCode), method,
        Int.box(java.util.Arrays.hashCode(data)))
  }

  // ---- primitive encoders over a growable buffer ----

  private final class Buf {
    val out = new ByteArrayOutputStream(64)
    def u8(v: Int): Buf = { out.write(v & 0xff); this }
    def u16(v: Int): Buf = { out.write((v >>> 8) & 0xff); out.write(v & 0xff); this }
    def u32(v: Long): Buf = {
      out.write(((v >>> 24) & 0xff).toInt); out.write(((v >>> 16) & 0xff).toInt)
      out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt); this
    }
    def vbi(value: Int): Buf = { // Variable Byte Integer, spec §1.5.5
      var x = value
      do {
        var b = x % 128; x /= 128
        if (x > 0) b |= 0x80
        out.write(b)
      } while (x > 0)
      this
    }
    def str(s: String): Buf = { val b = s.getBytes(UTF_8); u16(b.length); out.write(b); this }
    def bin(b: Array[Byte]): Buf = { u16(b.length); out.write(b); this }
    def raw(b: Array[Byte]): Buf = { out.write(b); this }
    def bytes: Array[Byte] = out.toByteArray
  }

  private def frame(out: OutputStream, tpe: Int, flags: Int, body: Array[Byte]): Unit = {
    val head = new Buf
    head.u8((tpe << 4) | (flags & 0x0f)).vbi(body.length)
    out.write(head.bytes); out.write(body)
  }

  private def props(f: Buf => Unit): Array[Byte] = {
    val p = new Buf; f(p)
    val withLen = new Buf
    withLen.vbi(p.bytes.length).raw(p.bytes)
    withLen.bytes
  }

  // ---- encode ----

  def write(out: OutputStream, p: Packet): Unit = { encode(out, p); out.flush() }

  /** Writes `ps` back to back and flushes once: a run of acks costs
    * one socket write instead of one per packet.
    */
  def writeAll(out: OutputStream, ps: Iterable[Packet]): Unit = {
    ps.foreach(encode(out, _)); out.flush()
  }

  private def encode(out: OutputStream, p: Packet): Unit = p match {
    case Connect(cid, clean, keepAlive, expiry, user, pass, am, ad) =>
      val b = new Buf
      b.str("MQTT").u8(5) // protocol name + version
      var flags = 0
      if (clean) flags |= 0x02
      if (user.isDefined) flags |= 0x80
      if (pass.isDefined) flags |= 0x40
      b.u8(flags).u16(keepAlive)
      b.raw(props(pb => {
        pb.u8(0x11).u32(expiry) // session expiry
        am.foreach(m => pb.u8(0x15).str(m))
        ad.foreach(d => pb.u8(0x16).bin(d))
      }))
      b.str(cid)
      user.foreach(b.str)
      pass.foreach(b.bin)
      frame(out, 1, 0, b.bytes)
    case Connack(present, reason, receiveMax, authData) =>
      val b = new Buf
      b.u8(if (present) 1 else 0).u8(reason).raw(props(pb => {
        if (receiveMax != 65535) pb.u8(0x21).u16(receiveMax)
        authData.foreach(d => pb.u8(0x16).bin(d))
      }))
      frame(out, 2, 0, b.bytes)
    case Publish(topic, qos, retain, dup, pid, userProps, payload) =>
      val b = new Buf
      b.str(topic)
      if (qos > 0) b.u16(pid)
      b.raw(props(pb => userProps.foreach { case (k, v) =>
        pb.u8(0x26).str(k).str(v) }))
      b.raw(payload)
      var flags = 0
      if (retain) flags |= 0x01
      flags |= (qos & 3) << 1
      if (dup) flags |= 0x08
      frame(out, 3, flags, b.bytes)
    case PubAck(pid, rc) => ackLike(out, 4, 0, pid, rc)
    case PubRec(pid, rc) => ackLike(out, 5, 0, pid, rc)
    case PubRel(pid, rc) => ackLike(out, 6, 2, pid, rc)
    case PubComp(pid, rc) => ackLike(out, 7, 0, pid, rc)
    case Subscribe(pid, subs) =>
      val b = new Buf
      b.u16(pid).raw(props(_ => ()))
      subs.foreach { case (filter, qos) => b.str(filter).u8(qos & 3) }
      frame(out, 8, 2, b.bytes)
    case Suback(pid, codes) =>
      val b = new Buf
      b.u16(pid).raw(props(_ => ()))
      codes.foreach(b.u8)
      frame(out, 9, 0, b.bytes)
    case Unsubscribe(pid, filters) =>
      val b = new Buf
      b.u16(pid).raw(props(_ => ()))
      filters.foreach(b.str)
      frame(out, 10, 2, b.bytes)
    case Unsuback(pid, codes) =>
      val b = new Buf
      b.u16(pid).raw(props(_ => ()))
      codes.foreach(b.u8)
      frame(out, 11, 0, b.bytes)
    case PingReq => frame(out, 12, 0, Array.empty)
    case PingResp => frame(out, 13, 0, Array.empty)
    case Disconnect(rc) =>
      val b = new Buf
      b.u8(rc).raw(props(_ => ()))
      frame(out, 14, 0, b.bytes)
    case Auth(rc, method, data) =>
      val b = new Buf
      b.u8(rc).raw(props(pb => {
        pb.u8(0x15).str(method)
        if (data.nonEmpty) pb.u8(0x16).bin(data)
      }))
      frame(out, 15, 0, b.bytes)
  }

  private def ackLike(out: OutputStream, tpe: Int, flags: Int,
      pid: Int, rc: Int): Unit = {
    val b = new Buf
    b.u16(pid)
    // reason code + empty props may be omitted when rc == 0 (spec
    // §3.4.2.1); always write them for simplicity — valid either way
    b.u8(rc).raw(props(_ => ()))
    frame(out, tpe, flags, b.bytes)
  }

  // ---- primitive decoders ----

  /** Decoded property block (the subset this connector surfaces). */
  final case class PropSet(sessionExpiry: Option[Long],
      user: Map[String, String], receiveMaximum: Option[Int],
      authMethod: Option[String] = None,
      authData: Option[Array[Byte]] = None)

  private final class Reader(bytes: Array[Byte]) {
    private var pos = 0
    def remaining: Int = bytes.length - pos
    def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = (u16().toLong << 16) | u16().toLong
    def vbi(): Int = {
      // bound by byte COUNT, not by the multiplier: mult overflows
      // Int to 0 on a 5th byte, so a `mult > 128^4` guard never fires
      var mult = 1; var value = 0; var b = 0; var n = 0
      do {
        b = u8(); n += 1
        if (n > 4) // spec §1.5.5: a VBI is at most 4 bytes
          throw new IllegalArgumentException("malformed VBI")
        value += (b & 0x7f) * mult; mult *= 128
      } while ((b & 0x80) != 0)
      value
    }
    def strBytes(): Array[Byte] = { val n = u16(); slice(n) }
    def str(): String = new String(strBytes(), UTF_8)
    def slice(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(bytes, pos, pos + n); pos += n; a
    }
    def rest(): Array[Byte] = slice(remaining)

    /** Parse a property block: surfaces Session Expiry Interval, User
      * Properties and Receive Maximum, skipping every other property
      * by its spec type.
      */
    def propBlock(): PropSet = {
      val len = vbi()
      val end = pos + len
      var expiry: Option[Long] = None
      var receiveMax: Option[Int] = None
      var authMethod: Option[String] = None
      var authData: Option[Array[Byte]] = None
      val user = Map.newBuilder[String, String]
      while (pos < end) {
        val id = u8()
        id match {
          case 0x11 => expiry = Some(u32())
          case 0x15 => authMethod = Some(str())
          case 0x16 => authData = Some(strBytes())
          case 0x21 => receiveMax = Some(u16())
          case 0x26 => user += (str() -> str())
          // skip-by-type tables (spec §2.2.2.2)
          case 0x01 | 0x17 | 0x19 | 0x24 | 0x25 | 0x28 | 0x29 | 0x2a => u8()
          case 0x13 | 0x22 | 0x23 => u16()
          case 0x02 | 0x18 | 0x27 => u32()
          case 0x0b => vbi()
          case 0x03 | 0x08 | 0x12 | 0x1a | 0x1c | 0x1f => str()
          case 0x09 => strBytes()
          case other =>
            throw new IllegalArgumentException(s"unknown property id $other")
        }
      }
      PropSet(expiry, user.result(), receiveMax, authMethod, authData)
    }
  }

  /** Blocking read of one packet; throws EOFException on clean stream
    * end before a fixed header.
    */
  def read(in: InputStream): Packet = {
    val b0 = in.read()
    if (b0 < 0) throw new EOFException("stream closed")
    val tpe = (b0 >>> 4) & 0x0f
    val flags = b0 & 0x0f
    // remaining length VBI straight off the stream; same ≤4-byte
    // malformed-packet bound as Reader.vbi (spec §1.5.5) — without it
    // a peer streaming continuation bytes loops forever on the
    // connection thread and overflows len into a bogus allocation
    var mult = 1; var len = 0; var b = 0; var n = 0
    do {
      b = in.read()
      if (b < 0) throw new EOFException("stream closed mid-header")
      n += 1
      if (n > 4) // byte-count bound: mult overflows Int past 4 bytes
        throw new IllegalArgumentException("malformed VBI")
      len += (b & 0x7f) * mult; mult *= 128
    } while ((b & 0x80) != 0)
    val body = new Array[Byte](len)
    new DataInputStream(in).readFully(body)
    val r = new Reader(body)
    tpe match {
      case 1 =>
        val proto = r.str(); val ver = r.u8()
        require(proto == "MQTT" && ver == 5, s"unsupported $proto v$ver")
        val cf = r.u8()
        val keepAlive = r.u16()
        val cprops = r.propBlock()
        val cid = r.str()
        if ((cf & 0x04) != 0) { // will flag: skip will props/topic/payload
          r.propBlock(); r.str(); r.strBytes()
        }
        val user = if ((cf & 0x80) != 0) Some(r.str()) else None
        val pass = if ((cf & 0x40) != 0) Some(r.strBytes()) else None
        Connect(cid, (cf & 0x02) != 0, keepAlive,
          cprops.sessionExpiry.getOrElse(0L), user, pass,
          cprops.authMethod, cprops.authData)
      case 2 =>
        val present = (r.u8() & 1) != 0
        val rc = r.u8()
        val p = if (r.remaining > 0) r.propBlock()
          else PropSet(None, Map.empty, None)
        Connack(present, rc, p.receiveMaximum.getOrElse(65535), p.authData)
      case 3 =>
        val qos = (flags >>> 1) & 3
        val topic = r.str()
        val pid = if (qos > 0) r.u16() else 0
        val userProps = r.propBlock().user
        Publish(topic, qos, (flags & 1) != 0, (flags & 8) != 0, pid,
          userProps, r.rest())
      case 4 | 5 | 6 | 7 =>
        val pid = r.u16()
        val rc = if (r.remaining > 0) r.u8() else 0
        tpe match {
          case 4 => PubAck(pid, rc)
          case 5 => PubRec(pid, rc)
          case 6 => PubRel(pid, rc)
          case 7 => PubComp(pid, rc)
        }
      case 8 =>
        val pid = r.u16(); r.propBlock()
        val subs = Seq.newBuilder[(String, Int)]
        while (r.remaining > 0) subs += (r.str() -> (r.u8() & 3))
        Subscribe(pid, subs.result())
      case 9 =>
        val pid = r.u16(); r.propBlock()
        val codes = Seq.newBuilder[Int]
        while (r.remaining > 0) codes += r.u8()
        Suback(pid, codes.result())
      case 10 =>
        val pid = r.u16(); r.propBlock()
        val fs = Seq.newBuilder[String]
        while (r.remaining > 0) fs += r.str()
        Unsubscribe(pid, fs.result())
      case 11 =>
        val pid = r.u16(); r.propBlock()
        val codes = Seq.newBuilder[Int]
        while (r.remaining > 0) codes += r.u8()
        Unsuback(pid, codes.result())
      case 12 => PingReq
      case 13 => PingResp
      case 14 =>
        val rc = if (r.remaining > 0) r.u8() else 0
        Disconnect(rc)
      case 15 =>
        // rc + props may be omitted entirely for rc=0 (spec §3.15.2)
        if (r.remaining == 0) Auth(0, "", Array.empty)
        else {
          val rc = r.u8()
          val ap = if (r.remaining > 0) r.propBlock()
            else PropSet(None, Map.empty, None)
          Auth(rc, ap.authMethod.getOrElse(""),
            ap.authData.getOrElse(Array.empty))
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported packet type $other")
    }
  }
}

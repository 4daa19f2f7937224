package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.model.EmqxMessage
import graft.sources.{EmqxForeachWriter, EmqxSink}
import graft.sources.broker._
import graft.sources.broker.Mqtt5Codec._

/** Socket-level integration tests for the MQTT 5 network path: wire
  * codec round-trips, client↔server session/auth/QoS semantics over
  * real TCP on localhost, and the Spark source/sink running against
  * `tcp://...` — the coverage the reference gets from its
  * EMQXSourceIntegrationTest against a containerized EMQX.
  */
class Mqtt5NetworkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def roundTrip(p: Packet): Packet = {
    val out = new ByteArrayOutputStream()
    Mqtt5Codec.write(out, p)
    Mqtt5Codec.read(new ByteArrayInputStream(out.toByteArray))
  }

  test("codec round-trips every packet type") {
    assert(roundTrip(Connack(sessionPresent = true, 0)) ==
      Connack(sessionPresent = true, 0))
    // Receive Maximum property (0x21) survives the round trip; the
    // protocol default 65535 is omitted on the wire and restored
    assert(roundTrip(Connack(sessionPresent = false, 0, 2)) ==
      Connack(sessionPresent = false, 0, 2))
    assert(roundTrip(Connack(sessionPresent = true, 0))
      .asInstanceOf[Connack].receiveMaximum == 65535)
    assert(roundTrip(Suback(7, Seq(0, 1, 2))) == Suback(7, Seq(0, 1, 2)))
    assert(roundTrip(Unsubscribe(9, Seq("a/b", "c/#"))) ==
      Unsubscribe(9, Seq("a/b", "c/#")))
    assert(roundTrip(Unsuback(9, Seq(0, 0))) == Unsuback(9, Seq(0, 0)))
    assert(roundTrip(PubAck(3, 0)) == PubAck(3, 0))
    assert(roundTrip(PubRec(4, 0)) == PubRec(4, 0))
    assert(roundTrip(PubRel(5, 0)) == PubRel(5, 0))
    assert(roundTrip(PubComp(6, 0)) == PubComp(6, 0))
    assert(roundTrip(PingReq) == PingReq)
    assert(roundTrip(PingResp) == PingResp)
    assert(roundTrip(Disconnect(4)) == Disconnect(4))
    assert(roundTrip(Subscribe(2, Seq("$share/g/t/#" -> 1))) ==
      Subscribe(2, Seq("$share/g/t/#" -> 1)))

    val c = Connect("cid-1", cleanStart = false, 30, 120,
      Some("user"), Some("pw".getBytes("UTF-8")))
    val c2 = roundTrip(c).asInstanceOf[Connect]
    assert(c2.clientId == "cid-1" && !c2.cleanStart &&
      c2.keepAliveSec == 30 && c2.sessionExpirySec == 120 &&
      c2.username.contains("user") &&
      c2.password.exists(_.sameElements("pw".getBytes("UTF-8"))))

    val pub = Publish("t/1", 1, retain = true, dup = false, 42,
      Map("k" -> "v", "k2" -> "v2"), Array[Byte](1, 2, 3))
    val pub2 = roundTrip(pub).asInstanceOf[Publish]
    assert(pub2.topic == "t/1" && pub2.qos == 1 && pub2.retain &&
      pub2.packetId == 42 && pub2.props == Map("k" -> "v", "k2" -> "v2") &&
      pub2.payload.sameElements(Array[Byte](1, 2, 3)))

    // large payload exercises multi-byte remaining-length VBI
    val big = Publish("t", 0, retain = false, dup = false, 0,
      Map.empty, Array.fill[Byte](100000)(7))
    assert(roundTrip(big).asInstanceOf[Publish].payload.length == 100000)
  }

  private def withServer(f: (InMemoryBroker, Mqtt5Server, BrokerConf) => Unit): Unit = {
    val backing = new InMemoryBroker
    val server = new Mqtt5Server(backing)
    val conf = BrokerConf(s"tcp://127.0.0.1:${server.actualPort}")
    try f(backing, server, conf)
    finally server.close()
  }

  private def eventually[T](timeoutMs: Long = 5000)(f: => T): T = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try return f
      catch { case t: Throwable => last = t; Thread.sleep(20) }
    }
    throw last
  }

  test("network client: connect, subscribe, publish, fetch, ack over TCP") {
    withServer { (_, _, conf) =>
      val client = new NetworkMqttBroker(conf)
      val present = client.connect("net-c0", cleanStart = true, 60, None, None)
      assert(!present)
      client.subscribe("net-c0", "sensors/#", 1)

      // publish through a SECOND network client (its own socket) so the
      // message makes two real wire trips
      val producer = new NetworkMqttBroker(conf)
      producer.publish(EmqxMessage("sensors/t1", 1, retained = false,
        Map("src" -> "spec"), "m0".getBytes("UTF-8")))
      producer.publish(EmqxMessage("sensors/t2", 0, retained = false,
        Map.empty, "m1".getBytes("UTF-8")))

      eventually() { assert(client.endOffset("net-c0") == 2) }
      val got = client.fetch("net-c0", 0, 2)
      assert(got.map(_.topic) == Seq("sensors/t1", "sensors/t2"))
      assert(new String(got.head.payload, "UTF-8") == "m0")
      assert(got.head.properties == Map("src" -> "spec"))
      assert(client.committedOffset("net-c0") == 0)
      client.ack("net-c0", 2)
      assert(client.committedOffset("net-c0") == 2)
      client.disconnect("net-c0")
      producer.closeAll()
    }
  }

  test("network client: qos2 publish round-trip delivers exactly once") {
    withServer { (_, _, conf) =>
      val client = new NetworkMqttBroker(conf)
      client.connect("net-q2", cleanStart = true, 60, None, None)
      client.subscribe("net-q2", "x/#", 2)
      val producer = new NetworkMqttBroker(conf)
      producer.publish(EmqxMessage("x/a", 2, retained = false,
        Map.empty, "only-once".getBytes("UTF-8")))
      eventually() { assert(client.endOffset("net-q2") == 1) }
      Thread.sleep(100) // would catch a double routing
      assert(client.endOffset("net-q2") == 1)
      client.ack("net-q2", 1)
      producer.closeAll(); client.closeAll()
    }
  }

  test("unacked messages are redelivered on session resume; rebase aligns offsets") {
    withServer { (_, _, conf) =>
      val client = new NetworkMqttBroker(conf)
      client.connect("net-r0", cleanStart = false, 600, None, None)
      client.subscribe("net-r0", "r/#", 1)
      val producer = new NetworkMqttBroker(conf)
      (0 until 5).foreach(i => producer.publish(EmqxMessage(s"r/$i", 1,
        retained = false, Map.empty, s"m$i".getBytes("UTF-8"))))
      eventually() { assert(client.endOffset("net-r0") == 5) }
      // consume then checkpoint-ack the first 3 (acks only ever
      // follow fetches — un-fetched data is never ackable)
      assert(client.fetch("net-r0", 0, 5).length == 5)
      client.ack("net-r0", 3) // PUBACKs for the first 3

      // simulate the consuming process dying: a FRESH client object
      // (new sockets, empty buffer) resumes the session
      client.disconnect("net-r0")
      val client2 = new NetworkMqttBroker(conf)
      val present = client2.connect("net-r0", cleanStart = false, 600, None, None)
      assert(present, "session should have survived")
      // un-acked suffix (2 messages) is redelivered
      eventually() { assert(client2.endOffset("net-r0") - client2.committedOffset("net-r0") == 2) }
      // checkpoint said we had acked 3 → align local numbering
      client2.rebase("net-r0", 3L)
      assert(client2.committedOffset("net-r0") == 3)
      val replay = client2.fetch("net-r0", 3, 5)
      assert(replay.map(_.topic) == Seq("r/3", "r/4"))
      client2.closeAll(); producer.closeAll()
    }
  }

  test("auth is enforced over the wire: wrong password refused, right accepted") {
    withServer { (backing, _, conf) =>
      backing.requireCredentials("svc", "s3cret")
      val bad = new NetworkMqttBroker(conf.copy(
        username = Some("svc"), password = Some("wrong")))
      val e = intercept[IllegalStateException] {
        bad.connect("auth-c", cleanStart = true, 60, None, None)
      }
      assert(e.getMessage.contains("not authorized"))
      val good = new NetworkMqttBroker(conf.copy(
        username = Some("svc"), password = Some("s3cret")))
      assert(!good.connect("auth-c", cleanStart = true, 60, None, None))
      assert(backing.lastAuth("auth-c").contains((Some("svc"), Some("s3cret"))))
      good.closeAll()
    }
  }

  test("shared subscription load-balances across network clients") {
    withServer { (_, _, conf) =>
      val client = new NetworkMqttBroker(conf)
      (0 until 3).foreach { i =>
        client.connect(s"net-s$i", cleanStart = true, 60, None, None)
        client.subscribe(s"net-s$i", "$share/g/lb/#", 1)
      }
      val producer = new NetworkMqttBroker(conf)
      (0 until 9).foreach(i => producer.publish(EmqxMessage(s"lb/$i", 1,
        retained = false, Map.empty, Array.empty[Byte])))
      eventually() {
        val counts = (0 until 3).map(i => client.endOffset(s"net-s$i"))
        assert(counts.sum == 9 && counts.forall(_ == 3),
          s"unbalanced: $counts")
      }
      client.closeAll(); producer.closeAll()
    }
  }

  test("spark pipeline end-to-end over tcp:// — readStream, transform, collect") {
    withServer { (_, _, conf) =>
      val spark = SparkTestSession.spark
      import spark.implicits._

      val df = spark.readStream.format("emqx")
        .option("broker", conf.uri)
        .option("clientid", "spark-net-")
        .option("group", "gnet")
        .option("topicfilter", "iot/#")
        .option("qos", 1)
        .option("readers", 2)
        .load()
        .selectExpr("topic", "cast(payload as string) AS body")

      val proxyBefore = FetchProxy.requestsServed.get()
      val q = df.writeStream.format("memory")
        .queryName("net_e2e").outputMode("append").start()
      try {
        // give the stream a moment to connect+subscribe its readers
        eventually() {
          assert(BrokerRegistry.resolve(conf)
            .asInstanceOf[NetworkMqttBroker] != null)
          q.processAllAvailable()
        }
        val producer = new NetworkMqttBroker(conf)
        (0 until 20).foreach(i => producer.publish(EmqxMessage(s"iot/d$i",
          1, retained = false, Map.empty, s"v$i".getBytes("UTF-8"))))
        eventually(15000) {
          q.processAllAvailable()
          val n = spark.table("net_e2e").count()
          assert(n == 20, s"got $n of 20")
        }
        val rows = spark.table("net_e2e").as[(String, String)].collect().toMap
        assert(rows("iot/d7") == "v7")
        // network-broker reads go through the cluster-mode fetch
        // proxy even under local[*] — the cluster path has coverage
        assert(FetchProxy.requestsServed.get() > proxyBefore,
          "partition readers bypassed the fetch proxy")
        producer.closeAll()
      } finally q.stop()
    }
  }

  test("auth + session options reach the in-memory broker through the source") {
    val name = "opt-broker-" + java.util.UUID.randomUUID().toString.take(8)
    val b = BrokerRegistry.get(name)
    b.requireCredentials("svc", "pw")
    val spark = SparkTestSession.spark
    val q = spark.readStream.format("emqx")
      .option("broker", name)
      .option("username", "svc").option("password", "pw")
      .option("sessionexpirysec", 120)
      .option("clientid", "optc-").option("readers", 1)
      .option("topicfilter", "opt/#")
      .load()
      .writeStream.format("memory").queryName("opt_auth")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(b.lastAuth("optc-0").contains((Some("svc"), Some("pw"))))
      assert(b.sessionPresent("optc-0"))
    } finally q.stop()
  }

  test("TLS: full round trip over ssl:// with a generated certificate") {
    import scala.sys.process._
    val dir = TestDirs.create("mqtt-tls").toString
    val keystore = s"$dir/server.p12"
    // self-signed server cert via the JDK's keytool; client trusts
    // the same store (it holds the cert) as its truststore
    val cmd = Seq("keytool", "-genkeypair", "-alias", "mqtt",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-dname", "CN=localhost", "-keystore", keystore,
      "-storetype", "PKCS12", "-storepass", "changeit")
    assert(cmd.! == 0, "keytool failed")

    val backing = new InMemoryBroker
    val server = new Mqtt5Server(backing, 0,
      sslKeystore = Some((keystore, "changeit")))
    try {
      val conf = BrokerConf(s"ssl://localhost:${server.actualPort}",
        truststorePath = Some(keystore),
        truststorePassword = Some("changeit"))
      val client = new NetworkMqttBroker(conf)
      assert(!client.connect("tls-c0", cleanStart = true, 60, None, None))
      client.subscribe("tls-c0", "sec/#", 1)
      val producer = new NetworkMqttBroker(conf)
      producer.publish(EmqxMessage("sec/x", 1, retained = false,
        Map("enc" -> "tls"), "secret".getBytes("UTF-8")))
      eventually() { assert(client.endOffset("tls-c0") == 1) }
      val got = client.fetch("tls-c0", 0, 1)
      assert(got.head.topic == "sec/x" &&
        new String(got.head.payload, "UTF-8") == "secret")
      client.ack("tls-c0", 1)
      assert(client.committedOffset("tls-c0") == 1)
      // a client withOUT the truststore must be REJECTED by the
      // handshake (untrusted self-signed cert)
      val untrusting = new NetworkMqttBroker(
        BrokerConf(s"ssl://localhost:${server.actualPort}"))
      intercept[Exception] {
        untrusting.connect("tls-bad", cleanStart = true, 60, None, None)
      }
      client.closeAll(); producer.closeAll()
    } finally server.close()
  }

  test("fetch proxy: a reader in another JVM fetches over the driver's RPC") {
    withServer { (_, _, conf) =>
      // the "driver" JVM: owns the broker connections
      val owner = new NetworkMqttBroker(conf)
      owner.connect("px-c0", cleanStart = true, 60, None, None)
      owner.subscribe("px-c0", "px/#", 1)
      val producer = new NetworkMqttBroker(conf)
      producer.publish(EmqxMessage("px/t", 1, retained = false,
        Map("k" -> "v"), "payload".getBytes("UTF-8")))
      eventually() { assert(owner.endOffset("px-c0") == 1) }

      val proxy = new FetchProxyServer(owner)
      try {
        // the executor side touches ONLY the socket address — exactly
        // what a partition reader in a separate JVM would do
        val got = FetchProxyClient.fetch(proxy.address, "px-c0", 0, 1)
        assert(got.length == 1)
        assert(got.head.topic == "px/t" && got.head.qos == 1 &&
          got.head.properties == Map("k" -> "v") &&
          new String(got.head.payload, "UTF-8") == "payload")
        // second request rides the pooled connection
        assert(FetchProxyClient.fetch(proxy.address, "px-c0", 0, 1)
          .length == 1)
        // unknown clientid → empty, not an error (mirrors broker.fetch)
        assert(FetchProxyClient.fetch(proxy.address, "nope", 0, 9).isEmpty)
      } finally proxy.close()
      owner.closeAll(); producer.closeAll()
    }
  }

  test("fetch proxy: a stale pooled connection retries on a fresh dial") {
    withServer { (_, _, conf) =>
      val owner = new NetworkMqttBroker(conf)
      owner.connect("pxr-c0", cleanStart = true, 60, None, None)
      owner.subscribe("pxr-c0", "pxr/#", 1)
      val producer = new NetworkMqttBroker(conf)
      producer.publish(EmqxMessage("pxr/t", 1, retained = false,
        Map.empty, "again".getBytes("UTF-8")))
      eventually() { assert(owner.endOffset("pxr-c0") == 1) }

      val proxy1 = new FetchProxyServer(owner)
      assert(FetchProxyClient.fetch(proxy1.address, "pxr-c0", 0, 1)
        .length == 1) // establishes a pooled connection
      val port = proxy1.port
      proxy1.close() // kills the pooled connection's server side

      // proxy restarts on the SAME port (same advertised address):
      // the client's pooled socket is dead; fetch must retry on a
      // fresh dial instead of failing the partition read
      val proxy2 = new FetchProxyServer(owner, bindPort = port)
      try {
        assert(proxy2.address == proxy1.address)
        val got = FetchProxyClient.fetch(proxy2.address, "pxr-c0", 0, 1)
        assert(got.length == 1 &&
          new String(got.head.payload, "UTF-8") == "again")
      } finally proxy2.close()
      owner.closeAll(); producer.closeAll()
    }
  }

  test("fetch proxy over TLS: truststored client fetches, naked client is refused") {
    import scala.sys.process._
    val dir = TestDirs.create("proxy-tls").toString
    val keystore = s"$dir/proxy.p12"
    val cmd = Seq("keytool", "-genkeypair", "-alias", "proxy",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-dname", "CN=localhost", "-keystore", keystore,
      "-storetype", "PKCS12", "-storepass", "changeit")
    assert(cmd.! == 0, "keytool failed")
    withServer { (_, _, conf) =>
      val owner = new NetworkMqttBroker(conf)
      owner.connect("pxs-c0", cleanStart = true, 60, None, None)
      owner.subscribe("pxs-c0", "pxs/#", 1)
      val producer = new NetworkMqttBroker(conf)
      producer.publish(EmqxMessage("pxs/t", 1, retained = false,
        Map.empty, "sec".getBytes("UTF-8")))
      eventually() { assert(owner.endOffset("pxs-c0") == 1) }

      val proxy = new FetchProxyServer(owner,
        sslKeystore = Some((keystore, "changeit")))
      try {
        assert(proxy.address.startsWith("ssl://"))
        val got = FetchProxyClient.fetch(proxy.address, "pxs-c0", 0, 1,
          truststorePath = Some(keystore),
          truststorePassword = Some("changeit"))
        assert(got.length == 1 &&
          new String(got.head.payload, "UTF-8") == "sec")
        // no truststore → handshake must fail (self-signed cert)
        intercept[Exception] {
          FetchProxyClient.fetch(proxy.address, "pxs-c0", 0, 1)
        }
      } finally proxy.close()
      owner.closeAll(); producer.closeAll()
    }
  }

  test("client honors broker Receive Maximum; throughput pipelines up to the quota") {
    // the reference's HiveMQ client honors CONNACK Receive Maximum
    // automatically (EMQXSourceReader.java:92 inherits it); the
    // in-repo client must do the same: never more than the advertised
    // number of un-acked QoS1/2 flows, while still pipelining acks
    // (more than one flow in flight) for throughput.
    val backing = new InMemoryBroker
    val server = new Mqtt5Server(backing, receiveMaximum = 2)
    // widen the server-side ack window so pipelining is observable:
    // with instant acks a serial reader never sees >1 inbound flow.
    // 300 ms (not 80): under a fully loaded host the publisher thread
    // can be descheduled long enough to miss a narrow window and the
    // pipelining assertion reads a serial publisher — seen flaking in
    // whole-suite runs at 80 ms while green in isolation
    server.inboundAckDelayMs = 300
    val conf = BrokerConf(s"tcp://127.0.0.1:${server.actualPort}")
    try {
      val sub = new NetworkMqttBroker(conf)
      sub.connect("rm-sub", cleanStart = true, 60, None, None)
      sub.subscribe("rm-sub", "rm/#", 1)

      val producer = new NetworkMqttBroker(conf)
      (0 until 20).foreach(i => producer.publishAsync(EmqxMessage(s"rm/$i",
        1, retained = false, Map.empty, s"m$i".getBytes("UTF-8"))))
      producer.flushPublishes()

      // honor: the server never saw more concurrent un-acked inbound
      // flows than it advertised
      assert(server.maxInboundInflight <= 2,
        s"quota violated: ${server.maxInboundInflight} > 2")
      // pipelining: the client filled the quota (a one-at-a-time
      // blocking publisher would never exceed 1 in flight)
      assert(server.maxInboundInflight == 2,
        s"no pipelining: max in-flight ${server.maxInboundInflight}")
      // nothing lost through the delayed-ack path
      eventually() { assert(sub.endOffset("rm-sub") == 20) }
      sub.closeAll(); producer.closeAll()
    } finally server.close()
  }

  test("exceeding Receive Maximum is a protocol error: DISCONNECT 0x93") {
    val backing = new InMemoryBroker
    val server = new Mqtt5Server(backing, receiveMaximum = 2)
    server.inboundAckDelayMs = 200 // keep flows open while we flood
    val conf = BrokerConf(s"tcp://127.0.0.1:${server.actualPort}")
    try {
      // a raw socket client that IGNORES the advertised quota
      val s = new java.net.Socket("127.0.0.1", server.actualPort)
      s.setTcpNoDelay(true)
      s.setSoTimeout(5000)
      val in = new java.io.BufferedInputStream(s.getInputStream)
      val out = new java.io.BufferedOutputStream(s.getOutputStream)
      Mqtt5Codec.write(out, Connect("rm-rogue", cleanStart = true, 30,
        60, None, None))
      val ack = Mqtt5Codec.read(in).asInstanceOf[Connack]
      assert(ack.receiveMaximum == 2, "CONNACK must advertise the quota")
      (0 until 5).foreach(i => Mqtt5Codec.write(out, Publish(s"rg/$i", 1,
        retain = false, dup = false, i + 1, Map.empty, Array[Byte](1))))
      // the 3rd un-acked flow exceeds the quota → DISCONNECT 0x93
      // (Receive Maximum exceeded); delayed PUBACKs may interleave
      var disconnected = false
      try {
        var n = 0
        while (!disconnected && n < 10) {
          Mqtt5Codec.read(in) match {
            case Disconnect(0x93) => disconnected = true
            case _: PubAck => n += 1
            case other => fail(s"unexpected $other")
          }
        }
      } catch { case _: java.io.EOFException => () } // closed after DISCONNECT
      assert(disconnected, "rogue client was not disconnected with 0x93")
      s.close()
    } finally server.close()
  }

  test("flushPublishes recovers after a broker bounce: stranded flows fail once, the retry's flush succeeds") {
    // regression: a flow stranded by a broker bounce used to hold its
    // ack latch forever — every later flushPublishes() on the cached
    // broker timed out, so sink task retries could NEVER succeed. Now
    // connection death fails in-flight flows (fast, not by timeout)
    // and a failed flush clears them, so the retry starts clean.
    val backing = new InMemoryBroker
    val server = new Mqtt5Server(backing)
    server.inboundAckDelayMs = 30000 // acks can't arrive before the kill
    val port = server.actualPort
    val conf = BrokerConf(s"tcp://127.0.0.1:$port")
    val producer = new NetworkMqttBroker(conf)
    try {
      (0 until 3).foreach(i => producer.publishAsync(EmqxMessage(s"fl/$i",
        1, retained = false, Map.empty, s"m$i".getBytes("UTF-8"))))
      server.close() // bounce: the 3 un-acked QoS1 flows are stranded

      // at-least-once: the flush MUST fail (nothing was acked) — and
      // fail fast via the connection-death signal, not 3×10s timeouts
      val t0 = System.nanoTime()
      intercept[IllegalStateException] { producer.flushPublishes() }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 9.0,
        f"flush failed by timeout ($sec%.1f s), not by conn-death signal")

      val revived = new Mqtt5Server(backing, port)
      try {
        val sub = new NetworkMqttBroker(conf)
        sub.connect("fl-sub", cleanStart = true, 60, None, None)
        sub.subscribe("fl-sub", "fl/#", 1)
        // the task retry: re-publish the batch; the stranded flows
        // must not poison this flush
        eventually(15000) {
          (0 until 3).foreach(i =>
            producer.publishAsync(EmqxMessage(s"fl/$i", 1,
              retained = false, Map.empty, s"m$i".getBytes("UTF-8"))))
          producer.flushPublishes()
        }
        eventually() { assert(sub.endOffset("fl-sub") >= 3) }
        sub.closeAll()
      } finally revived.close()
    } finally producer.closeAll()
  }

  test("a writer's flush covers its own flows: another writer's neither waits on nor absorbs them") {
    // sink tasks in one JVM share the registry-cached broker; each
    // takes its own publisher, so task B's commit must not wait on,
    // clear or be failed by task A's flows (nor A's failure land on B)
    val backing = new InMemoryBroker
    backing.connect("pw-sub", cleanStart = true)
    backing.subscribe("pw-sub", "pw/#", 1)
    val server = new Mqtt5Server(backing)
    // holds QoS1 PUBACKs (and routing) only: A's QoS1 flows stay open
    // while B's QoS2 flows complete at once
    server.inboundAckDelayMs = 30000
    val broker = new NetworkMqttBroker(BrokerConf(s"tcp://127.0.0.1:${server.actualPort}"))
    try {
      val a = broker.publisher()
      val b = broker.publisher()
      (0 until 3).foreach(i => a.publish(EmqxMessage(s"pw/a$i", 1,
        retained = false, Map.empty, s"a$i".getBytes("UTF-8"))))
      (0 until 3).foreach(i => b.publish(EmqxMessage(s"pw/b$i", 2,
        retained = false, Map.empty, s"b$i".getBytes("UTF-8"))))
      b.flush() // must not wait for A's held acks
      val routed = backing.fetch("pw-sub", 0, backing.endOffset("pw-sub"))
      assert(routed.map(_.topic).sorted == Seq("pw/b0", "pw/b1", "pw/b2"),
        "B's flush returned only once A's flows had completed")

      server.close() // A's flows lose their connection un-acked
      intercept[IllegalStateException] { a.flush() }
    } finally { broker.closeAll(); server.close() }
  }

  test("EmqxForeachWriter and EmqxSink.publish deliver to a tcp:// broker") {
    // both used to resolve the URI as the NAME of an in-JVM broker:
    // rows "published" without error and reached no one
    withServer { (backing, _, conf) =>
      val spark = SparkTestSession.spark
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      backing.connect("fw-sub", cleanStart = true)
      backing.subscribe("fw-sub", "fw/#", 1)
      def envelope(df: org.apache.spark.sql.DataFrame) =
        df.selectExpr("_1 AS topic", "1 AS qos", "cast(_2 AS binary) AS payload")

      EmqxSink.publish(envelope(Seq(("fw/batch/1", "p1"), ("fw/batch/2", "p2"))
        .toDF()), conf.uri)

      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, String)]
      val q = envelope(in.toDF()).writeStream
        .foreach(new EmqxForeachWriter(conf.uri)).start()
      try {
        in.addData(("fw/stream/1", "s1"), ("fw/stream/2", "s2"))
        q.processAllAvailable()
      } finally q.stop()

      val got = backing.fetch("fw-sub", 0, backing.endOffset("fw-sub"))
        .map(m => m.topic -> new String(m.payload, "UTF-8")).toSet
      assert(got == Set("fw/batch/1" -> "p1", "fw/batch/2" -> "p2",
        "fw/stream/1" -> "s1", "fw/stream/2" -> "s2"), s"got: $got")
    }
  }

  test("SCRAM-SHA-256 matches the RFC 7677 test vector on both sides") {
    // the published RFC 7677 §3 example exchange, pinned end-to-end:
    // any drift in Hi/HMAC/AuthMessage construction fails here before
    // it can silently weaken the wire exchange
    val clientNonce = "rOprNGfwEbeRWgbNEkqO"
    val serverNonce = "%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0"
    val vSrvFirst = s"r=$clientNonce$serverNonce," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    val vCliFinal = s"c=biws,r=$clientNonce$serverNonce," +
      "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    val vSrvFinal = "v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="

    val cl = new ScramSha256.Client("user", "pencil", clientNonce)
    assert(cl.clientFirst == s"n,,n=user,r=$clientNonce")
    assert(cl.clientFinal(vSrvFirst) == vCliFinal)
    assert(cl.verifyServerFinal(vSrvFinal))
    assert(!cl.verifyServerFinal(
      "v=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA="))

    val salt = java.util.Base64.getDecoder.decode("W22ZaJ0SNY7soEsUEjb6gQ==")
    val srv = new ScramSha256.Server(
      u => if (u == "user") Some(ScramSha256.verifier("pencil", salt))
           else None,
      serverNonce)
    assert(srv.serverFirst(cl.clientFirst) == vSrvFirst)
    assert(srv.username == "user")
    assert(srv.verifyClientFinal(vCliFinal).contains(vSrvFinal))
    // a one-bit-off proof must not verify
    assert(srv.verifyClientFinal(vCliFinal.dropRight(4) + "AAA=").isEmpty)
  }

  test("codec round-trips AUTH and enhanced-auth CONNECT/CONNACK properties") {
    val a = Auth(0x18, "SCRAM-SHA-256", "n,,n=u,r=abc".getBytes("UTF-8"))
    assert(roundTrip(a) == a)
    assert(roundTrip(Auth(0, "m", Array.empty)) == Auth(0, "m", Array.empty))
    val c = Connect("cid", cleanStart = true, 30, 60, Some("u"), None,
      authMethod = Some("SCRAM-SHA-256"),
      authData = Some("first".getBytes("UTF-8")))
    val c2 = roundTrip(c).asInstanceOf[Connect]
    assert(c2.authMethod.contains("SCRAM-SHA-256") &&
      c2.authData.exists(_.sameElements("first".getBytes("UTF-8"))))
    val ack = Connack(sessionPresent = false, 0, 65535,
      Some("v=sig".getBytes("UTF-8")))
    assert(roundTrip(ack) == ack)
  }

  test("SCRAM over the wire: mutual auth succeeds, bad password refused, password never sent") {
    withServer { (backing, _, conf) =>
      backing.requireCredentials("svc", "s3cret-hunter2")
      val scramConf = conf.copy(username = Some("svc"),
        password = Some("s3cret-hunter2"),
        authMethod = Some("SCRAM-SHA-256"))
      val client = new NetworkMqttBroker(scramConf)
      assert(!client.connect("scram-c0", cleanStart = true, 60, None, None))
      // the session layer saw the SCRAM principal, not a wire password
      assert(backing.lastAuth("scram-c0").exists(_._1.contains("svc")))
      // the authenticated connection is fully usable
      client.subscribe("scram-c0", "sc/#", 1)
      val producer = new NetworkMqttBroker(scramConf)
      producer.publish(EmqxMessage("sc/x", 1, retained = false,
        Map.empty, "hello".getBytes("UTF-8")))
      eventually() { assert(client.endOffset("scram-c0") == 1) }
      client.closeAll(); producer.closeAll()

      val bad = new NetworkMqttBroker(scramConf.copy(
        password = Some("wrong")))
      val e = intercept[IllegalStateException] {
        bad.connect("scram-bad", cleanStart = true, 60, None, None)
      }
      assert(e.getMessage.contains("not authorized"))
    }
  }

  test("spark readStream authenticates via SCRAM with the authmethod option") {
    withServer { (backing, _, conf) =>
      backing.requireCredentials("pipe", "pipe-pw")
      val spark = SparkTestSession.spark
      import spark.implicits._
      val q = spark.readStream.format("emqx")
        .option("broker", conf.uri)
        .option("username", "pipe").option("password", "pipe-pw")
        .option("authmethod", "SCRAM-SHA-256")
        .option("clientid", "scram-e2e-").option("readers", 1)
        .option("group", "gsc").option("topicfilter", "se/#")
        .option("qos", 1)
        .load()
        .selectExpr("cast(payload as string) AS body")
        .writeStream.format("memory").queryName("scram_e2e")
        .outputMode("append").start()
      try {
        val producer = new NetworkMqttBroker(conf.copy(
          username = Some("pipe"), password = Some("pipe-pw"),
          authMethod = Some("SCRAM-SHA-256")))
        eventually(15000) {
          producer.publish(EmqxMessage("se/t", 1, retained = false,
            Map.empty, "via-scram".getBytes("UTF-8")))
          q.processAllAvailable()
          assert(spark.table("scram_e2e").as[String].collect()
            .contains("via-scram"))
        }
        // the source's readers authenticated as the SCRAM principal
        assert(backing.lastAuth("scram-e2e-0").exists(_._1.contains("pipe")))
        producer.closeAll()
      } finally q.stop()
    }
  }

  test("SCRAM client refuses a broker that cannot prove the ServerKey") {
    // an impostor broker that answers the exchange with a plausible
    // challenge but CONNACKs success without a valid server-final
    // signature — a client that connected anyway would leak traffic
    // to a broker that never knew the password
    val ss = new java.net.ServerSocket(0)
    val impostor = new Thread(() => {
      try {
        val s = ss.accept()
        val in = new java.io.BufferedInputStream(s.getInputStream)
        val out = new java.io.BufferedOutputStream(s.getOutputStream)
        Mqtt5Codec.read(in) // CONNECT
        Mqtt5Codec.write(out, Auth(0x18, "SCRAM-SHA-256",
          "r=anything-not-extending,s=AAAAAAAAAAAAAAAAAAAAAA==,i=4096"
            .getBytes("UTF-8")))
        Mqtt5Codec.read(in) // client-final (never arrives: bad nonce)
        Mqtt5Codec.write(out, Connack(sessionPresent = false, 0))
      } catch { case _: Throwable => () }
    })
    impostor.setDaemon(true); impostor.start()
    try {
      val client = new NetworkMqttBroker(BrokerConf(
        s"tcp://127.0.0.1:${ss.getLocalPort}",
        username = Some("svc"), password = Some("pw"),
        authMethod = Some("SCRAM-SHA-256")))
      intercept[Exception] {
        client.connect("imp-c0", cleanStart = true, 60, None, None)
      }
    } finally ss.close()
  }

  test("malformed remaining-length VBI is rejected, not looped forever") {
    // >4 continuation bytes: a hostile/broken peer must get an error
    // on the connection thread, not an infinite loop / huge allocation
    val bad = new ByteArrayInputStream(Array[Byte](0x30, 0x80.toByte,
      0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte))
    intercept[IllegalArgumentException] { Mqtt5Codec.read(bad) }
  }

  test("qos2 publish flow survives a publisher reconnect (per-clientid state)") {
    withServer { (_, server, conf) =>
      // a network subscriber counts how many copies get routed
      val sub = new NetworkMqttBroker(conf)
      sub.connect("q2r-sub", cleanStart = true, 60, None, None)
      sub.subscribe("q2r-sub", "q2r/#", 2)

      def dial(clean: Boolean) = {
        val s = new java.net.Socket("127.0.0.1", server.actualPort)
        s.setTcpNoDelay(true)
        val in = new java.io.BufferedInputStream(s.getInputStream)
        val out = new java.io.BufferedOutputStream(s.getOutputStream)
        Mqtt5Codec.write(out, Connect("q2r-pub", clean, 30, 600, None, None))
        assert(Mqtt5Codec.read(in).isInstanceOf[Connack])
        (s, in, out)
      }

      // conn1: PUBLISH qos2 pid=7, receive PUBREC, die before PUBREL
      val (s1, in1, out1) = dial(clean = true)
      Mqtt5Codec.write(out1, Publish("q2r/x", 2, retain = false,
        dup = false, 7, Map.empty, "once".getBytes("UTF-8")))
      assert(Mqtt5Codec.read(in1).isInstanceOf[PubRec])
      s1.close()

      // conn2 resumes the session and completes with a bare PUBREL
      // (spec: after PUBREC the client re-sends PUBREL, not PUBLISH).
      // Per-connection qos2 state would find nothing and LOSE the
      // message; the per-clientid store routes it exactly once.
      val (s2, in2, out2) = dial(clean = false)
      Mqtt5Codec.write(out2, PubRel(7, 0))
      assert(Mqtt5Codec.read(in2).isInstanceOf[PubComp])
      eventually() { assert(sub.endOffset("q2r-sub") == 1) }
      Thread.sleep(100) // would catch a double routing
      assert(sub.endOffset("q2r-sub") == 1)

      // a re-sent PUBLISH dup with the same pid on yet another
      // connection is recognized, not routed a second time
      val (s3, in3, out3) = dial(clean = false)
      Mqtt5Codec.write(out3, Publish("q2r/x", 2, retain = false,
        dup = true, 9, Map.empty, "twice?".getBytes("UTF-8")))
      assert(Mqtt5Codec.read(in3).isInstanceOf[PubRec])
      s3.close()
      val (s4, in4, out4) = dial(clean = false)
      Mqtt5Codec.write(out4, Publish("q2r/x", 2, retain = false,
        dup = true, 9, Map.empty, "twice?".getBytes("UTF-8")))
      assert(Mqtt5Codec.read(in4).isInstanceOf[PubRec])
      Mqtt5Codec.write(out4, PubRel(9, 0))
      assert(Mqtt5Codec.read(in4).isInstanceOf[PubComp])
      eventually() { assert(sub.endOffset("q2r-sub") == 2) }
      Thread.sleep(100)
      assert(sub.endOffset("q2r-sub") == 2) // held once across conns
      s2.close(); s4.close(); sub.closeAll()
    }
  }

  test("broker bounce mid-query: readers re-dial and the stream loses nothing") {
    withServer { (backing, server, conf) =>
      val spark = SparkTestSession.spark
      import spark.implicits._
      val q = spark.readStream.format("emqx")
        .option("broker", conf.uri)
        .option("clientid", "bounce-")
        .option("group", "gbn").option("topicfilter", "bn/#")
        .option("qos", 1).option("readers", 2)
        .load()
        .selectExpr("cast(payload as string) AS body")
        .writeStream.format("memory").queryName("bounce_e2e")
        .outputMode("append").start()
      try {
        val producer = new NetworkMqttBroker(conf)
        eventually(15000) {
          producer.publish(EmqxMessage("bn/warm", 1, retained = false,
            Map.empty, "warm".getBytes("UTF-8")))
          q.processAllAvailable()
          assert(spark.table("bounce_e2e").count() > 0)
        }
        (0 until 10).foreach(i => producer.publish(EmqxMessage(s"bn/a$i",
          1, retained = false, Map.empty, s"a$i".getBytes("UTF-8"))))
        eventually(15000) {
          q.processAllAvailable()
          val seen = spark.table("bounce_e2e").as[String].collect().toSet
          (0 until 10).foreach(i => assert(seen.contains(s"a$i")))
        }

        // kill the broker MID-query: every socket (readers + producer)
        // dies. The query itself must keep running.
        val port = server.actualPort
        server.close()
        q.processAllAvailable() // polls while down must not crash
        assert(q.isActive, "query died with the broker")

        // bring the broker back on the same port with its state
        val revived = new Mqtt5Server(backing, port)
        try {
          // producer and readers re-dial on their next use/poll;
          // messages published after the bounce all arrive
          (0 until 10).foreach { i =>
            eventually(20000) {
              producer.publish(EmqxMessage(s"bn/b$i", 1,
                retained = false, Map.empty, s"b$i".getBytes("UTF-8")))
            }
          }
          eventually(20000) {
            q.processAllAvailable()
            val seen = spark.table("bounce_e2e").as[String].collect().toSet
            (0 until 10).foreach { i =>
              assert(seen.contains(s"a$i"), s"lost pre-bounce a$i")
              assert(seen.contains(s"b$i"), s"lost post-bounce b$i")
            }
          }
          assert(q.isActive)
        } finally revived.close()
      } finally q.stop()
    }
  }

  test("spark checkpoint restart over tcp://: no loss across a stopped query") {
    withServer { (_, _, conf) =>
      val spark = SparkTestSession.spark
      val ckpt = TestDirs.create("net-ckpt").toString
      RecoveryCollector.clear()
      // memory sink can't recover from a checkpoint; collect via
      // foreach (same-JVM global set), as the mem-broker recovery
      // tests do
      def startQuery() = spark.readStream.format("emqx")
        .option("broker", conf.uri)
        .option("clientid", "ckpt-net-")
        .option("group", "gc").option("topicfilter", "ck/#")
        .option("qos", 1).option("readers", 1)
        .load()
        .writeStream.foreach(new RecoveryCollector)
        .option("checkpointLocation", ckpt).start()

      val producer = new NetworkMqttBroker(conf)
      val q1 = startQuery()
      try {
        eventually(15000) {
          producer.publish(EmqxMessage("ck/warm", 1, retained = false,
            Map.empty, "w".getBytes("UTF-8")))
          q1.processAllAvailable()
          assert(RecoveryCollector.seen().nonEmpty)
        }
        (0 until 5).foreach(i => producer.publish(EmqxMessage(s"ck/a$i", 1,
          retained = false, Map.empty, s"a$i".getBytes("UTF-8"))))
        eventually(15000) {
          q1.processAllAvailable()
          assert((0 until 5).forall(i =>
            RecoveryCollector.seen().contains(s"a$i")))
        }
      } finally q1.stop()

      // while the query is DOWN, more messages arrive at the broker;
      // the resumed session must deliver them after restart (the
      // NetworkMqttBroker rebase path: fresh client buffer renumbered
      // to the checkpointed offsets)
      (0 until 5).foreach(i => producer.publish(EmqxMessage(s"ck/b$i", 1,
        retained = false, Map.empty, s"b$i".getBytes("UTF-8"))))

      val q2 = startQuery()
      try {
        eventually(20000) {
          q2.processAllAvailable()
          val seen = RecoveryCollector.seen()
          (0 until 5).foreach { i =>
            assert(seen.contains(s"a$i"), s"lost pre-stop a$i")
            assert(seen.contains(s"b$i"), s"lost offline b$i")
          }
        }
      } finally q2.stop()
      producer.closeAll()
    }
  }

  test("restart from a checkpoint plans a redelivered backlog smaller than the consumed history") {
    // after a restart the client numbers the redelivered backlog from
    // 0 while the checkpoint holds absolute offsets; under a batch cap
    // a backlog shorter than the consumed history used to read as "no
    // new data" and was never planned
    withServer { (_, _, conf) =>
      val spark = SparkTestSession.spark
      val ckpt = TestDirs.create("stall-ckpt").toString
      CountingCollector.clear()
      def startQuery() = spark.readStream.format("emqx")
        .option("broker", conf.uri)
        .option("clientid", "stall-")
        .option("group", "gst").option("topicfilter", "st/#")
        .option("qos", 1).option("readers", 1)
        .option("maxmessagesperbatch", 100)
        .load()
        .writeStream.foreach(new CountingCollector)
        .option("checkpointLocation", ckpt).start()

      val producer = new NetworkMqttBroker(conf)
      val q1 = startQuery()
      try {
        eventually(15000) {
          producer.publish(EmqxMessage("st/warm", 1, retained = false,
            Map.empty, "warm".getBytes("UTF-8")))
          q1.processAllAvailable()
          assert(CountingCollector.counts().nonEmpty)
        }
        (0 until 20).foreach(i => producer.publish(EmqxMessage(s"st/a$i", 1,
          retained = false, Map.empty, s"a$i".getBytes("UTF-8"))))
        eventually(15000) {
          q1.processAllAvailable()
          val counts = CountingCollector.counts()
          (0 until 20).foreach(i => assert(counts.contains(s"a$i")))
        }
      } finally q1.stop()

      // 5 < the 21+ consumed before the stop
      (0 until 5).foreach(i => producer.publish(EmqxMessage(s"st/b$i", 1,
        retained = false, Map.empty, s"b$i".getBytes("UTF-8"))))
      val q2 = startQuery()
      try {
        eventually(20000) {
          q2.processAllAvailable()
          val counts = CountingCollector.counts()
          (0 until 5).foreach(i => assert(counts.get(s"b$i").contains(1),
            s"b$i seen ${counts.get(s"b$i")} times"))
        }
      } finally q2.stop()
      producer.closeAll()
    }
  }

  test("graceful stop drains in-flight acks at the final checkpoint; resume is clean") {
    // the reference integration-tests stop-with-savepoint semantics
    // (EMQXSourceIntegrationTest.java:173): a graceful stop must leave
    // the broker session acked EXACTLY up to the consumed prefix — the
    // final micro-batch's acks drain before the sockets close — so a
    // resume redelivers nothing (no duplicates) and loses nothing,
    // with no idempotent-sink crutch.
    withServer { (backing, _, conf) =>
      val spark = SparkTestSession.spark
      val ckpt = TestDirs.create("drain-ckpt").toString
      CountingCollector.clear()
      def startQuery() = spark.readStream.format("emqx")
        .option("broker", conf.uri)
        .option("clientid", "drain-")
        .option("group", "gd").option("topicfilter", "dr/#")
        .option("qos", 1).option("readers", 1)
        .load()
        .writeStream.foreach(new CountingCollector)
        .option("checkpointLocation", ckpt).start()

      val producer = new NetworkMqttBroker(conf)
      val q1 = startQuery()
      try {
        eventually(15000) {
          producer.publish(EmqxMessage("dr/warm", 1, retained = false,
            Map.empty, "warm".getBytes("UTF-8")))
          q1.processAllAvailable()
          assert(CountingCollector.counts().nonEmpty)
        }
        val warm = CountingCollector.counts()("warm") // warm retries count
        (0 until 10).foreach(i => producer.publish(EmqxMessage(s"dr/a$i", 1,
          retained = false, Map.empty, s"a$i".getBytes("UTF-8"))))
        q1.processAllAvailable()

        // messages land at the broker session (delivered to the
        // reader's client, un-acked in-flight) while the query idles
        (0 until 5).foreach(i => producer.publish(EmqxMessage(s"dr/b$i", 1,
          retained = false, Map.empty, s"b$i".getBytes("UTF-8"))))
        eventually() {
          assert(backing.endOffset("drain-0") == warm + 15,
            s"in-flight not delivered: ${backing.endOffset("drain-0")}")
        }

        // drain: consume the in-flight batch, then stop gracefully
        q1.processAllAvailable()
        q1.stop()

        // the final checkpoint's acks must have drained: session acked
        // exactly the consumed prefix — everything, since we drained all
        eventually() {
          val committed = backing.committedOffset("drain-0")
          assert(committed == warm + 15,
            s"stop dropped final-batch acks: committed $committed of ${warm + 15}")
        }
        assert(backing.endOffset("drain-0") == backing.committedOffset("drain-0"),
          "un-acked backlog survived a drained stop")
      } finally if (q1.isActive) q1.stop()

      // resume: nothing redelivers (no duplicates), nothing was lost,
      // and new messages flow
      val q2 = startQuery()
      try {
        (0 until 3).foreach(i => producer.publish(EmqxMessage(s"dr/c$i", 1,
          retained = false, Map.empty, s"c$i".getBytes("UTF-8"))))
        eventually(15000) {
          q2.processAllAvailable()
          val counts = CountingCollector.counts()
          (0 until 3).foreach(i => assert(counts.get(s"c$i").contains(1),
            s"post-resume c$i: ${counts.get(s"c$i")}"))
        }
        val counts = CountingCollector.counts()
        (0 until 10).foreach(i => assert(counts.get(s"a$i").contains(1),
          s"a$i seen ${counts.get(s"a$i")} times — drained stop must not replay"))
        (0 until 5).foreach(i => assert(counts.get(s"b$i").contains(1),
          s"b$i seen ${counts.get(s"b$i")} times — drained stop must not replay"))
      } finally q2.stop()
      producer.closeAll()
    }
  }

  test("spark batch write publishes to the network broker") {
    withServer { (_, _, conf) =>
      val spark = SparkTestSession.spark
      import spark.implicits._
      // a network subscriber catches what Spark writes
      val sub = new NetworkMqttBroker(conf)
      sub.connect("net-wsub", cleanStart = true, 60, None, None)
      sub.subscribe("net-wsub", "out/#", 1)

      Seq(("out/a", "p1"), ("out/b", "p2"))
        .toDF("topic", "body")
        .selectExpr("topic", "1 as qos", "cast(body as binary) AS payload")
        .write.format("emqx").option("broker", conf.uri).mode("append").save()

      eventually() { assert(sub.endOffset("net-wsub") == 2) }
      val got = sub.fetch("net-wsub", 0, 2)
      assert(got.map(_.topic).sorted == Seq("out/a", "out/b"))
      sub.closeAll()
    }
  }
}

/** Same-JVM foreach sink counting deliveries PER PAYLOAD — unlike the
  * set-based [[RecoveryCollector]] it sees duplicates, which is what
  * the stop-with-drain test asserts the absence of.
  */
class CountingCollector
    extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(row: org.apache.spark.sql.Row): Unit =
    CountingCollector.add(new String(
      row.getAs[Array[Byte]]("payload"), java.nio.charset.StandardCharsets.UTF_8))
  override def close(errorOrNull: Throwable): Unit = ()
}

object CountingCollector {
  private val map = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  def add(s: String): Unit =
    map.computeIfAbsent(s, _ =>
      new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
  def clear(): Unit = map.clear()
  def counts(): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    map.asScala.map { case (k, v) => k -> v.get }.toMap
  }
}

package graft.sources.broker

import graft.model.EmqxMessage

/** The broker seam behind the `emqx` source/sink: the same surface the
  * reference gets from HiveMQ's Mqtt5AsyncClient
  * (EMQXSourceReader.java:92–120 connect/subscribe/manual-ack), but
  * pull-shaped for Spark's micro-batch planner — deliveries are
  * addressed by a per-client monotone sequence so offsets are
  * checkpointable.
  *
  * Implementations: [[InMemoryBroker]] (in-JVM, tests/local[*]) and
  * [[NetworkMqttBroker]] (real MQTT 5 over TCP/TLS).
  */
trait MqttBroker {

  /** Connect (or resume) a session. Returns sessionPresent, like a
    * CONNACK. `username`/`password` mirror the MQTT CONNECT auth
    * fields; implementations must reject bad credentials with
    * IllegalStateException (the CONNACK 0x86/0x87 analogue).
    */
  def connect(clientid: String, cleanStart: Boolean,
      sessionExpirySec: Long = 3600,
      username: Option[String] = None,
      password: Option[String] = None): Boolean

  def disconnect(clientid: String): Unit

  /** Whether `clientid` currently holds a live connection — the
    * reconnect probe: callers poll this and re-[[connect]] with
    * cleanStart=false when it goes false (socket death, broker
    * bounce), resuming the session where it left off.
    */
  def isConnected(clientid: String): Boolean

  def subscribe(clientid: String, filter: String, qos: Int): Unit

  def unsubscribe(clientid: String, filter: String): Unit

  def publish(msg: EmqxMessage): Unit

  /** A new pipelined publisher for one writer (a sink task, a
    * producer thread). Its flush waits on the flows it sent and no
    * others, so writers sharing one broker never judge each other's
    * acks. Defaults to the synchronous [[publish]] for brokers with no
    * wire round-trip to amortize (InMemoryBroker).
    */
  def publisher(): Publisher = new Publisher {
    override def publish(msg: EmqxMessage): Unit = MqttBroker.this.publish(msg)
    override def flush(): Unit = ()
  }

  /** End of the client's delivery sequence (next offset a new message
    * would get).
    */
  def endOffset(clientid: String): Long

  /** First un-acked offset — the replay point after recovery. */
  def committedOffset(clientid: String): Long

  /** Deliveries in client-local offset range [from, until). */
  def fetch(clientid: String, from: Long, until: Long): Seq[EmqxMessage]

  /** Acknowledge everything below `upTo` (ack-on-checkpoint). */
  def ack(clientid: String, upTo: Long): Unit

  /** Align the client-local sequence to a checkpointed offset after a
    * restart. A broker that persists sequences server-side
    * (InMemoryBroker) ignores this; a network client whose local
    * buffer restarts at zero renumbers its redelivered backlog so
    * that buffered message 0 is absolute `seq` — valid only before
    * the first fetch/ack of the new session.
    */
  def rebase(clientid: String, seq: Long): Unit = ()
}

/** One writer's pipelined publishes. */
trait Publisher {
  /** May return before the QoS1/2 wire ack. */
  def publish(msg: EmqxMessage): Unit

  /** Returns once every flow sent through [[publish]] since the last
    * flush has completed; throws if any cannot, so the caller's task
    * retries (at-least-once).
    */
  def flush(): Unit
}

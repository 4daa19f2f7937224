package graft.sources

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.types.StructType
import graft.model.EmqxMessage
import graft.sources.broker.{BrokerConf, BrokerRegistry, Publisher}

/** EMQX publish path (SURVEY §2.1 C8) — the reverse direction of the
  * reference connector. Rows must carry the envelope columns
  * (topic, qos, retained, properties, payload); missing columns fall
  * back to defaults.
  *
  * Streaming: `df.writeStream.foreach(new EmqxForeachWriter(name))` —
  * one writer per partition per epoch, publishing row-by-row (the
  * broker call is the per-message network publish a real client
  * would make; batching happens naturally per partition).
  * Batch: `EmqxSink.publish(df, name)` via foreachPartition.
  *
  * `brokerName` is anything the `broker` option takes: a `mem:` /
  * bare in-JVM name, or `tcp://host:port` / `ssl://host:port`.
  */
class EmqxForeachWriter(brokerName: String) extends ForeachWriter[Row] {
  // field positions resolved once from the first row's schema (fixed
  // per query) — not a per-row linear scan over schema.names
  @transient private var resolver: EmqxSink.EnvelopeResolver = _
  @transient private var out: Publisher = _
  override def open(partitionId: Long, epochId: Long): Boolean = {
    resolver = null
    out = EmqxSink.broker(brokerName).publisher()
    true
  }
  override def process(row: Row): Unit = {
    if (resolver == null) resolver = new EmqxSink.EnvelopeResolver(row.schema)
    out.publish(resolver.toMessage(row))
  }
  // pipelined QoS1/2 publishes must be acked before the epoch closes
  // cleanly; a flush failure throws → the task retries (at-least-once)
  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null) out.flush()
}

object EmqxSink {

  /** The broker behind a `broker` option value — network URIs
    * included, as the DSv2 sink resolves them.
    */
  private[sources] def broker(uri: String) =
    BrokerRegistry.resolve(BrokerConf(uri))

  /** Resolves envelope column positions once per schema, so the
    * per-row path is positional gets only (the DSv2 writer does the
    * same at EmqxWriterFactory.idx).
    */
  final class EnvelopeResolver(schema: StructType) extends Serializable {
    private val idx: Map[String, Int] =
      if (schema == null) Map.empty
      else schema.fieldNames.zipWithIndex.toMap
    private val topicI = idx.getOrElse("topic",
      throw new IllegalArgumentException(
        "emqx publish requires a 'topic' column; got: " +
          (if (schema == null) "<no schema>"
           else schema.fieldNames.mkString(", "))))
    private val qosI = idx.getOrElse("qos", -1)
    private val retainedI = idx.getOrElse("retained", -1)
    private val propsI = idx.getOrElse("properties", -1)
    private val payloadI = idx.getOrElse("payload", -1)

    private def opt[T](i: Int, row: Row, get: Int => T, dflt: T): T =
      if (i < 0 || row.isNullAt(i)) dflt else get(i)

    def toMessage(row: Row): EmqxMessage = EmqxMessage(
      topic = row.getString(topicI),
      qos = opt(qosI, row, row.getInt, 0),
      retained = opt(retainedI, row, row.getBoolean, false),
      properties = opt(propsI, row,
        i => row.getAs[Map[String, String]](i), Map.empty),
      payload = opt(payloadI, row,
        i => row.getAs[Array[Byte]](i), Array.empty[Byte]))
  }

  def rowToMessage(row: Row): EmqxMessage =
    new EnvelopeResolver(row.schema).toMessage(row)

  /** Batch publish: distributed foreachPartition, one broker handle
    * and one schema resolution per partition.
    */
  def publish(df: DataFrame, brokerName: String): Unit = {
    val resolver = new EnvelopeResolver(df.schema)
    df.foreachPartition { rows: Iterator[Row] =>
      val out = broker(brokerName).publisher()
      rows.foreach(r => out.publish(resolver.toMessage(r)))
      out.flush() // partition done = all acks in
    }
  }
}

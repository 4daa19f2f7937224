package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.EmqxMessage
import graft.sources.broker.BrokerRegistry

/** SQL-surface registration + DSv2 write path + QoS parametrization
  * (the reference's @ParameterizedTest over qos).
  */
class GraftSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("all graft functions are callable from SQL") {
    GraftFunctions.registerAll(spark)
    val row = spark.sql(
      """SELECT
        | mqtt_topic_matches('t/a/b', 't/+/#') AS m,
        | minhash_signature(array('a b c','b c d'), 8) AS mh,
        | simhash64(array('tok1','tok2')) AS sh,
        | rolling_fingerprint('some document text here', 8) AS rf,
        | dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
        |""".stripMargin).head()
    assert(row.getAs[Boolean]("m"))
    assert(row.getSeq[Long](row.fieldIndex("mh")).length == 8)
    assert(row.getAs[Double]("dp") == 11.0)
  }

  test("text/dedup kernels are callable from SQL and agree with the Column API") {
    GraftFunctions.registerAll(spark)
    val doc = "The quick brown fox jumps over the lazy dog and runs away"
    val row = spark.sql(
      s"""SELECT
         | ws_token_count('$doc') AS ws,
         | bpe_token_count('$doc') AS bpe,
         | punct_count('a, b. c!') AS pc,
         | stopword_hits('$doc', 'en') AS sw,
         | lang_id('$doc') AS lang,
         | canonical_md5('  A   b ') AS cmd5,
         | shingle_keys('$doc', 'src', 3) AS sk,
         | winnow_sketch('$doc', 5, 4) AS wn,
         | winnow_sketch('$doc', 5, 4, 2) AS wn2
         |""".stripMargin).head()
    assert(row.getAs[Int]("ws") == 12)
    assert(row.getAs[Int]("bpe") >= row.getAs[Int]("ws"))
    assert(row.getAs[Int]("pc") == 3)
    assert(row.getAs[Int]("sw") > 0)
    assert(row.getAs[String]("lang") == "en")
    val viaCol = spark.range(1)
      .select(graft.functions.TextFunctions.fingerprintMd5(
        lit("  A   b ")).as("m")).head().getString(0)
    assert(row.getAs[String]("cmd5") == viaCol)
    assert(row.getSeq[Long](row.fieldIndex("sk")).nonEmpty)
    val wn = row.getSeq[Long](row.fieldIndex("wn"))
    val wn2 = row.getSeq[Long](row.fieldIndex("wn2"))
    assert(wn.nonEmpty && wn2.size >= wn.size)
  }

  test("round-8 kernels are callable from SQL") {
    GraftFunctions.registerAll(spark)
    val row = spark.sql(
      """SELECT
        | top_token_count('a b a c a b') AS tt,
        | term_counts('scan the table scan', 'table scan') AS tc,
        | pii_counts('mail u1@ex.com ip 10.0.0.1') AS pii,
        | pii_scrub_text('tel 555-123-4567 done') AS scrub
        |""".stripMargin).head()
    assert(row.getAs[Long]("tt") == 3L)
    assert(row.getSeq[Int](row.fieldIndex("tc")) == Seq(1, 2))
    assert(row.getSeq[Int](row.fieldIndex("pii")) == Seq(1, 0, 1))
    assert(row.getAs[String]("scrub") == "tel <PHONE> done")
  }

  test("term_counts survives control chars and quotes in the spec") {
    // the spec rides into codegen as a reference object; a newline,
    // quote, or backslash in the SQL literal must count terms
    // normally, not produce uncompilable generated Java (which would
    // silently fall back to interpreted execution at best).
    // spec "a\nb \"q\"" splits on single spaces → terms
    // ["a\nb", "\"q\""]: the first contains \n so can never equal a
    // whitespace-delimited token (0); the second matches once.
    GraftFunctions.registerAll(spark)
    val row = spark.sql(
      "SELECT term_counts('a\nb a \"q\" c', 'a\nb \"q\"') AS tc").head()
    assert(row.getSeq[Int](row.fieldIndex("tc")) == Seq(0, 1))
  }

  test("batch DSv2 write publishes envelope rows via format(emqx)") {
    val name = "surface-batch-write"
    val b = BrokerRegistry.get(name)
    b.connect("w", cleanStart = true)
    b.subscribe("w", "#", 2)
    import spark.implicits._
    Seq(("bt/1", 1, false, "one"), ("bt/2", 2, false, "two"))
      .toDF("topic", "qos", "retained", "body")
      .withColumn("payload", encode(col("body"), "UTF-8"))
      .withColumn("properties",
        map(lit("origin"), lit("dsv2")))
      .select("topic", "qos", "retained", "properties", "payload")
      .write.format("emqx").option("broker", name).mode("append").save()
    val got = b.fetch("w", 0, b.endOffset("w"))
    assert(got.map(m => m.topic -> new String(m.payload, UTF_8)).toSet ==
      Set("bt/1" -> "one", "bt/2" -> "two"))
    assert(got.forall(_.properties("origin") == "dsv2"))
  }

  test("partial-schema DSv2 write: topic+payload only, defaults applied") {
    val name = "surface-partial-write"
    val b = BrokerRegistry.get(name)
    b.connect("pw", cleanStart = true)
    b.subscribe("pw", "#", 2)
    import spark.implicits._
    Seq(("p/1", "only-two-cols"))
      .toDF("topic", "body")
      .withColumn("payload", encode(col("body"), "UTF-8"))
      .select("topic", "payload")
      .write.format("emqx").option("broker", name).mode("append").save()
    val got = b.fetch("pw", 0, b.endOffset("pw"))
    assert(got.map(_.topic) == Seq("p/1"))
    assert(got.head.qos == 0 && !got.head.retained &&
      got.head.properties.isEmpty)
  }

  test("SQL dot_product on raw float arrays casts instead of corrupting") {
    GraftFunctions.registerAll(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    emb.createOrReplaceTempView("emb_v")
    val viaSql = spark.sql(
      "SELECT vec_id, dot_product(embedding, embedding) AS d FROM emb_v ORDER BY vec_id LIMIT 5")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    import graft.functions.VectorFunctions
    val viaCol = emb.select(col("vec_id"),
      VectorFunctions.dot(VectorFunctions.toDouble(col("embedding")),
        VectorFunctions.toDouble(col("embedding"))).as("d"))
      .orderBy("vec_id").limit(5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaCol)
    assert(viaSql.values.forall(v => v > 0 && !v.isNaN))
  }

  test("streaming DSv2 write: source -> transform -> format(emqx) sink") {
    val src = "surface-stream-src"
    val dst = "surface-stream-dst"
    val bs = BrokerRegistry.get(src)
    val bd = BrokerRegistry.get(dst)
    bd.connect("watch", cleanStart = true)
    bd.subscribe("watch", "echo/#", 1)
    val ckpt = TestDirs.create("emqx-w-").toString

    val q = spark.readStream.format("emqx")
      .option("broker", src).option("clientid", "s-")
      .option("group", "g").option("topicfilter", "in/#")
      .option("readers", 2).load()
      .select(concat(lit("echo/"), expr("substring(topic, 4)")).as("topic"),
        col("qos"), col("retained"), col("properties"), col("payload"))
      .writeStream.format("emqx").option("broker", dst)
      .option("checkpointLocation", ckpt).start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (!(0 to 1).forall(i => bs.sessionPresent(s"s-$i")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      bs.publish(EmqxMessage("in/x", 1, retained = false, Map.empty,
        "ping".getBytes(UTF_8)))
      q.processAllAvailable()
      val got = bd.fetch("watch", 0, bd.endOffset("watch"))
      assert(got.map(_.topic) == Seq("echo/x"))
      assert(new String(got.head.payload, UTF_8) == "ping")
    } finally q.stop()
  }

  test("admission control caps batch size at maxmessagesperbatch") {
    val name = "surface-admission"
    val b = BrokerRegistry.get(name)
    val ckpt = TestDirs.create("emqx-adm-").toString
    val q = spark.readStream.format("emqx")
      .option("broker", name).option("clientid", "a-")
      .option("group", "g").option("topicfilter", "t/#")
      .option("readers", 2).option("maxmessagesperbatch", 4)
      .load()
      .writeStream.format("memory").queryName("adm_sink")
      .option("checkpointLocation", ckpt).start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (!(0 to 1).forall(i => b.sessionPresent(s"a-$i")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      (0 until 20).foreach(i => b.publish(EmqxMessage("t/x", 1,
        retained = false, Map.empty, s"m$i".getBytes(UTF_8))))
      q.processAllAvailable()
      // all 20 arrive, but over multiple capped batches
      assert(spark.table("adm_sink").count() == 20)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length >= 4, s"batches: ${batches.mkString(",")}")
      assert(batches.forall(_ <= 4), s"batch too large: ${batches.mkString(",")}")
    } finally q.stop()
  }

  test("idempotent sink: a replayed epoch publishes no duplicates") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.{EmqxWriterFactory}
    import graft.sources.broker.BrokerConf

    val name = "surface-idem"
    val b = BrokerRegistry.get(name)
    b.connect("iw", cleanStart = true)
    b.subscribe("iw", "i/#", 1)

    val factory = new EmqxWriterFactory(BrokerConf(name),
      EmqxMessage.schema, idempotent = true, queryId = "test-query-1")
    // the same epoch's partition 0 written twice = Spark retrying a
    // failed epoch/task (the sink's commit is a no-op, so without the
    // dedup key every row would publish twice)
    def writeEpoch(epochId: Long): Unit = {
      val w = factory.createWriter(0, taskId = 1L, epochId = epochId)
      (0 until 5).foreach { i =>
        w.write(InternalRow(UTF8String.fromString(s"i/$i"), 1, false,
          null, s"m$i".getBytes(UTF_8)))
      }
      w.commit(); w.close()
    }
    writeEpoch(7L)
    writeEpoch(7L) // replay
    val got = b.fetch("iw", 0, b.endOffset("iw"))
    assert(got.length == 5, s"expected 5 uniques, got ${got.length}")
    assert(got.map(_.topic) == (0 until 5).map(i => s"i/$i"))
    // the dedup key rides as an ordinary user property
    assert(got.head.properties.keySet ==
      Set(graft.sources.broker.InMemoryBroker.DedupKeyProp))

    writeEpoch(8L) // a NEW epoch is not deduped
    assert(b.endOffset("iw") == 10)

    // bounded window: broker memory does not grow with history
    b.dedupWindow = 8
    writeEpoch(9L)
    assert(b.dedupSeenCount <= 8)
  }

  test("idempotent sink: a REORDERED replay publishes no duplicates") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.EmqxWriterFactory
    import graft.sources.broker.BrokerConf

    val name = "surface-idem-reorder"
    val b = BrokerRegistry.get(name)
    b.connect("iwr", cleanStart = true)
    b.subscribe("iwr", "ir/#", 1)
    val factory = new EmqxWriterFactory(BrokerConf(name),
      EmqxMessage.schema, idempotent = true, queryId = "test-query-2")
    def writeRows(order: Seq[Int]): Unit = {
      val w = factory.createWriter(0, taskId = 1L, epochId = 3L)
      order.foreach { i =>
        w.write(InternalRow(UTF8String.fromString(s"ir/$i"), 1, false,
          null, s"m$i".getBytes(UTF_8)))
        // two rows with IDENTICAL content in the same partition: the
        // occurrence counter must keep their keys distinct
        if (i == 2) w.write(InternalRow(UTF8String.fromString("ir/2"), 1,
          false, null, "m2".getBytes(UTF_8)))
      }
      w.commit(); w.close()
    }
    writeRows(0 until 5)
    // Spark guarantees a retried task replays the same multiset of
    // rows, NOT the same order — a position-derived key would stamp
    // different rows here and the broker would drop real messages
    writeRows(Seq(4, 2, 0, 3, 1))
    val got = b.fetch("iwr", 0, b.endOffset("iwr"))
    assert(got.length == 6, s"expected 5 uniques + 1 true dup, got ${got.length}")
    assert(got.map(_.topic).sorted ==
      Seq("ir/0", "ir/1", "ir/2", "ir/2", "ir/3", "ir/4"))
  }

  test("qos 0/1/2 subscriptions all deliver (reference qos parametrization)") {
    for (qos <- 0 to 2) {
      val name = s"surface-qos-$qos"
      val b = BrokerRegistry.get(name)
      b.connect("c", cleanStart = true)
      b.subscribe("c", "t/#", qos)
      b.publish(EmqxMessage("t/q", 2, retained = false, Map.empty,
        s"m$qos".getBytes(UTF_8)))
      val got = b.fetch("c", 0, b.endOffset("c"))
      assert(got.length == 1)
      assert(got.head.qos == qos) // min(pub=2, sub=qos)
      assert(new String(got.head.payload, UTF_8) == s"m$qos")
    }
  }
}

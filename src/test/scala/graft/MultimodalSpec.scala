package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("media table carries opaque binary + typed metadata") {
    val df = Multimodal.mediaTable(spark, sf)
    assert(df.schema("content").dataType.typeName == "binary")
    assert(df.filter(col("width") < 64 || col("height") < 48).count() == 0)
  }

  test("batched decode emits deterministic features") {
    val a = Multimodal.decodeFeatures(spark, sf).collect()
    val b = Multimodal.decodeFeatures(spark, sf).collect()
    assert(a.length == b.length && a.length > 0)
    val byId = b.map(f => f.doc_id -> f).toMap
    a.foreach { f =>
      val g = byId(f.doc_id)
      assert(f.checksum == g.checksum && f.feature.sameElements(g.feature))
      assert(f.feature.length == 8)
      assert(f.byte_len > 0)
    }
  }

  test("fast PNG decode path equals ImageIO exactly on varied images") {
    import graft.multimodal.MediaCodecs
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { _ =>
      val w = 1 + rnd.nextInt(80)
      val h = 1 + rnd.nextInt(60)
      val seed = Array.fill(1 + rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val png = MediaCodecs.encodePng(w, h, seed)
      val fast = MediaCodecs.decodeImage(png).get
      val ref = MediaCodecs.decodeImageIO(png).get
      assert(fast.width == ref.width && fast.height == ref.height)
      assert(fast.channels == ref.channels)
      assert(fast.meanLum == ref.meanLum, s"${w}x$h meanLum")
      assert(fast.lumHistogram.toSeq == ref.lumHistogram.toSeq)
    }
  }

  test("fast WAV decode path equals javax.sound exactly on varied clips") {
    import graft.multimodal.MediaCodecs
    val rnd = new scala.util.Random(11)
    (1 to 25).foreach { _ =>
      val sr = Seq(8000, 16000, 44100)(rnd.nextInt(3))
      val n = 1 + rnd.nextInt(4000)
      val seed = Array.fill(1 + rnd.nextInt(100))(rnd.nextInt(256).toByte)
      val wav = MediaCodecs.encodeWav(sr, n, seed)
      val fast = MediaCodecs.decodeWav(wav).get
      val ref = MediaCodecs.decodeWavJavax(wav).get
      assert(fast.sampleRate == ref.sampleRate &&
        fast.channels == ref.channels && fast.nFrames == ref.nFrames)
      assert(fast.durationMs == ref.durationMs)
      assert(fast.rms == ref.rms)
      assert(fast.windowRms.toSeq == ref.windowRms.toSeq)
    }
  }

  test("real PNG encode/decode round-trips through the JDK codec") {
    import graft.multimodal.MediaCodecs
    val png = MediaCodecs.encodePng(20, 14, "seed bytes".getBytes("UTF-8"))
    assert(MediaCodecs.sniffFormat(png) == "png")
    val info = MediaCodecs.decodeImage(png).get
    assert(info.width == 20 && info.height == 14 && info.channels == 3)
    assert(info.meanLum > 0 && info.meanLum < 255)
    assert(math.abs(info.lumHistogram.sum - 1.0f) < 1e-3)
    // deterministic
    assert(png.sameElements(
      MediaCodecs.encodePng(20, 14, "seed bytes".getBytes("UTF-8"))))
  }

  test("real WAV encode/decode round-trips through javax.sound") {
    import graft.multimodal.MediaCodecs
    val wav = MediaCodecs.encodeWav(8000, 1600, "audio seed".getBytes("UTF-8"))
    assert(MediaCodecs.sniffFormat(wav) == "wav")
    val info = MediaCodecs.decodeWav(wav).get
    assert(info.sampleRate == 8000 && info.channels == 1)
    assert(info.nFrames == 1600)
    assert(math.abs(info.durationMs - 200.0) < 1e-6)
    assert(info.rms > 0 && info.windowRms.length == 8 &&
      info.windowRms.forall(_ > 0))
  }

  test("resize produces decodable images at the target dimensions") {
    import graft.multimodal.MediaCodecs
    val resized = Multimodal.resizeImages(spark, sf, 16, 12).collect()
    assert(resized.nonEmpty)
    resized.take(5).foreach { r =>
      val info = MediaCodecs.decodeImage(r.getAs[Array[Byte]]("content")).get
      assert(info.width == 16 && info.height == 12)
    }
  }

  test("decodeMediaFeatures routes by magic bytes: images, audio, opaque fallback") {
    import graft.multimodal.MediaCodecs
    val feats = Multimodal.decodeMediaFeatures(spark, sf).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      if (f.doc_id % 2 == 0) {
        assert(f.kind == "image", s"doc ${f.doc_id}")
        assert(f.width > 0 && f.height > 0 && f.sample_rate == 0)
        assert(math.abs(f.feature.sum - 1.0f) < 1e-3) // histogram sums to 1
      } else {
        assert(f.kind == "audio", s"doc ${f.doc_id}")
        assert(f.sample_rate == 8000 && f.duration_ms > 0 && f.width == 0)
        assert(f.mean_level > 0)
      }
      assert(f.feature.length == 8 && f.byte_len > 0)
    }
    // determinism across runs (real codecs, seeded content)
    val again = Multimodal.decodeMediaFeatures(spark, sf).collect()
      .map(f => f.doc_id -> f).toMap
    feats.foreach(f => assert(again(f.doc_id).feature.sameElements(f.feature)))
    // unknown format bytes fall back to the stub under kind `opaque`
    assert(MediaCodecs.sniffFormat("not media at all".getBytes) == "opaque")
  }

  test("a media.parquet shipped with the corpus overrides fixture synthesis") {
    import graft.multimodal.MediaCodecs
    val spark2 = spark
    import spark2.implicits._
    val dir = TestDirs.create("graft_media_ship").toFile
    try {
      val png = MediaCodecs.encodePng(8, 6, "shipped".getBytes("UTF-8"))
      Seq((99001L, "png", png))
        .toDF("doc_id", "fmt", "content")
        .write.mode("overwrite").parquet(s"$dir/media.parquet")
      // no documents.parquet in dir: if the loader tried to synthesize
      // the fixture instead of reading the shipped bytes, it would die
      val got = Multimodal.realMediaTable(spark, dir.toString).collect()
      assert(got.length == 1)
      assert(got(0).getLong(0) == 99001L)
      assert(java.util.Arrays.equals(
        got(0).getAs[Array[Byte]]("content"), png))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("registered decode query emits only harness-sortable scalar columns") {
    val df = graft.operators.ConnectorRegistry
      .queries("multimodal_decode")(spark, sf)
    df.schema.fields.foreach { f =>
      assert(!f.dataType.typeName.contains("array"),
        s"column ${f.name} is ${f.dataType}; driver compare needs scalars")
    }
    // digest is order-sensitive over the float bits: distinct features
    // must yield distinct digests across kinds
    val rows = df.collect()
    assert(rows.nonEmpty)
    val digests = rows.map(_.getAs[Long]("feature_digest"))
    assert(digests.distinct.length > 1)
    // digest matches the raw-array path exactly
    val raw = Multimodal.decodeMediaFeatures(spark, sf).collect()
      .map { d =>
        var h = 0xcbf29ce484222325L
        d.feature.foreach { v =>
          h ^= java.lang.Float.floatToIntBits(v) & 0xffffffffL
          h *= 0x100000001b3L
        }
        d.doc_id -> h
      }.toMap
    rows.foreach(r =>
      assert(raw(r.getAs[Long]("doc_id")) == r.getAs[Long]("feature_digest")))
  }

  test("frame sampling keeps every stride-th chunk, chunks re-concatenate") {
    val full = Multimodal.frameSample(spark, sf, chunkSize = 256, stride = 1)
    val sampled = Multimodal.frameSample(spark, sf, chunkSize = 256, stride = 4)
    assert(sampled.filter(col("chunk_idx") % 4 =!= 0).count() == 0)
    // stride=1 chunk bytes must reassemble to the original content
    val doc0 = full.filter(col("doc_id") === 0).orderBy("chunk_idx")
      .collect().flatMap(_.getAs[Array[Byte]]("chunk"))
    val orig = Multimodal.mediaTable(spark, sf).filter(col("doc_id") === 0)
      .head().getAs[Array[Byte]]("content")
    assert(doc0.sameElements(orig))
  }
}
